"""Text-analysis operators for training-data pipelines — Spark SQL
expressions (codegen'd) apart from the string-hash passes
(doc_fingerprint's kernel, lm_familiarity's Count-Min base hash), which
run as numpy kernels over Arrow batches; integer/string outputs so
ANSI-SQL oracles match exactly.

* text_stats       — char/token/punct counts
* quality_score    — integer quality heuristic
* lang_guess       — stopword-hit language heuristic
* doc_fingerprint  — min polynomial window hash (Arrow numpy kernel)
* repetition_stats — Gopher-style intra-document repetition signals
* bm25_scores      — Okapi BM25 retrieval scoring, all-integer contract
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# language marker words; space-padded containment keeps SQL portable
_LANG_MARKERS = [
    ("de", " der "), ("de", " und "), ("fr", " le "), ("fr", " et "),
    ("es", " el "), ("es", " y "), ("zh", " de "), ("en", " the "),
]


def _n_tokens(text_col: str):
    """Token count CONTRACT: space-count + 1 on the trimmed text.

    Every 0x20 space is a boundary, so consecutive spaces count empty
    tokens ("a  b" -> 3) and other whitespace (tab/newline) does not
    split.  Deliberate: the same arithmetic is expressible in ANSI SQL
    (`length - length(replace(..)) + 1`) so the DuckDB oracle is
    bit-exact, whereas regex-split token semantics diverge across
    engines.  Pinned by test_n_tokens_space_semantics."""
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    )


# GPT-2-style pre-tokenizer pattern, restricted to the regex subset on
# which Java (Spark) and RE2 (DuckDB) agree exactly: leftmost-first
# alternation, no lookaround, explicit whitespace classes instead of \s
# (Java's \s includes \x0B, RE2's does not).  Branches: contraction
# suffix, letter run, digit run, punctuation run (each with optional
# leading space, like GPT-2's ` ?`), whitespace run.
BPE_TOKEN_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    "| ?[^A-Za-z0-9 \t\n\r]+"
    "|[ \t\n\r]+"
)


def n_tokens_bpe(text_col: str):
    """BPE-ish token count: number of pre-tokenizer matches over the
    text (GPT-2's split, see BPE_TOKEN_PATTERN).  Whitespace runs count
    as one token each, like the real pre-tokenizer's `\\s+` branch."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """-> (id, n_chars, n_tokens, n_tokens_bpe, n_spaces, n_commas)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        _n_tokens(text_col).cast("long").alias("n_tokens"),
        n_tokens_bpe(text_col).cast("long").alias("n_tokens_bpe"),
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))))
        .cast("long")
        .alias("n_spaces"),
        (F.length(t) - F.length(F.replace(t, F.lit(","), F.lit(""))))
        .cast("long")
        .alias("n_commas"),
    )


def quality_expr(text_col: str):
    """Integer quality heuristic in [0, 1000] as a column expression:
    floor(min(1000 * n_tokens / (n_chars + 1), 1000)) — a cheap
    length/density signal; exact integer arithmetic so oracles agree."""
    t = F.col(text_col)
    ntok = _n_tokens(text_col).cast("long")
    score = F.least(
        (F.lit(1000) * ntok) / (F.length(t).cast("long") + 1), F.lit(1000.0)
    )
    return F.floor(score).cast("long")


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """-> (id, quality_1000) — see quality_expr."""
    return df.select(F.col(id_col), quality_expr(text_col).alias("quality_1000"))


def lang_pred_expr(text_col: str):
    """First-match stopword language heuristic as a column expression."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    c = None
    for lang, marker in _LANG_MARKERS:
        cond = F.instr(padded, marker) > 0
        c = F.when(cond, lang) if c is None else c.when(cond, lang)
    return c.otherwise("und")


def lang_guess(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First-match stopword heuristic -> (id, lang_pred)."""
    return df.select(F.col(id_col), lang_pred_expr(text_col).alias("lang_pred"))


def doc_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> DataFrame:
    """Winnowing-style fingerprint: min polynomial codepoint hash over
    all `window`-char substrings -> (id, fingerprint long).

    One numpy kernel per Arrow batch: a sliding dot product of the
    codepoint array against POWS[:window] (the dup_spans convolution)
    + a per-doc min.  The same hash as a SQL transform lambda runs
    interpreted with `window` substring+ascii calls PER POSITION
    (measured 25s -> sub-second at sf0.1).  Every int64 product stays
    < 2^62, so the values are bit-identical to the DuckDB oracle
    (_doc_fingerprint_sql).  Texts shorter than `window` hash one
    zero-padded window; NULL text -> NULL fingerprint.
    """
    import numpy as np
    import pandas as pd

    from ..functions.texthash import P, POWS

    pows = np.array(POWS[:window][::-1], dtype=np.int64)  # convolve reverses

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            fps = []
            for t in pdf[text_col]:
                if t is None:
                    fps.append(None)
                    continue
                c = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if len(c) < window:  # one zero-padded window
                    c = np.pad(c, (0, window - len(c)))
                fps.append(
                    int((np.convolve(c, pows, mode="valid") % P).min())
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], "fingerprint": pd.array(fps, dtype="Int64")}
            )

    id_dt = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        op, schema=f"{id_col} {id_dt}, fingerprint long"
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher-rules repetition
    filter family) -> (id, n_words, n_distinct_words, dup_word_frac_q,
    top_word_frac_q, top_bigram_frac_q), all long, fractions quantized
    as (1000 * x) integer-div total (exact in every engine — no float
    division anywhere).

    Word CONTRACT: split on single 0x20 spaces, empties kept, raw text
    (no trim) — n_words = space-count + 1 always, so an empty document
    has ONE empty word (it differs from _n_tokens, which trims and maps
    empty text to 0 tokens).  Signals:

    * dup_word_frac_q   — per-mille of word occurrences whose word
                          appears more than once in the doc
    * top_word_frac_q   — per-mille of occurrences held by the doc's
                          most frequent word
    * top_bigram_frac_q — same for adjacent word 2-grams (0 for docs
                          with fewer than two words)

    Scale shape: ONE scan projection fans each doc to tagged
    (kind, gram) rows for words and bigrams together (pure codegen
    named_struct arrays — the text is read once, no UDF), one shuffle
    on (id, kind, gram) with map-side partial counts, then a tiny
    per-doc second agg.  High-repetition spam — exactly what this
    filter exists to catch — collapses in the partial agg, so the
    shuffle is bounded by DISTINCT grams per doc, not doc length.
    """
    # the split array MUST be materialized as a column first: Spark
    # evaluates higher-order-function lambdas interpreted per element,
    # so embedding split(text) inside the transform body would rescan
    # the whole text per bigram index — O(n_words^2 * len) per doc
    # (measured 33s for ONE 16k-word doc; linear after this hoist)
    ws = "_ws"
    w_structs = f"transform({ws}, w -> named_struct('kind', 'w', 'gram', w))"
    b_structs = (
        f"CASE WHEN size({ws}) >= 2 THEN "
        f"transform(sequence(1, size({ws}) - 1), "
        f"i -> named_struct('kind', 'b', 'gram', "
        f"concat(element_at({ws}, i), ' ', element_at({ws}, i + 1)))) "
        f"ELSE array_repeat(named_struct('kind', 'b', 'gram', ''), 0) END"
    )
    g = (
        df.select(
            F.col(id_col), F.split(F.col(text_col), " ", -1).alias("_ws")
        )
        .select(
            F.col(id_col),
            F.explode(F.expr(f"concat({w_structs}, {b_structs})")).alias("_g"),
        )
        .select(
            F.col(id_col),
            F.col("_g.kind").alias("kind"),
            F.col("_g.gram").alias("gram"),
        )
    )
    cnts = g.groupBy(id_col, "kind", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    w = F.col("kind") == "w"
    b = F.col("kind") == "b"
    per = cnts.groupBy(id_col).agg(
        F.sum(F.when(w, F.col("cnt"))).alias("n_words"),
        F.sum(F.when(w, F.lit(1))).cast("long").alias("n_distinct_words"),
        F.max(F.when(w, F.col("cnt"))).alias("_max_w"),
        F.sum(F.when(w & (F.col("cnt") > 1), F.col("cnt")).otherwise(0)).alias("_dup_w"),
        F.sum(F.when(b, F.col("cnt"))).alias("_n_bi"),
        F.max(F.when(b, F.col("cnt"))).alias("_max_b"),
    )
    return per.select(
        F.col(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words"),
        F.expr("(1000 * _dup_w) div n_words").cast("long").alias("dup_word_frac_q"),
        F.expr("(1000 * _max_w) div n_words").cast("long").alias("top_word_frac_q"),
        F.expr(
            "CASE WHEN _n_bi IS NULL THEN 0L ELSE (1000 * _max_b) div _n_bi END"
        )
        .cast("long")
        .alias("top_bigram_frac_q"),
    )


# PII detection/redaction rules, restricted (like BPE_TOKEN_PATTERN) to
# the regex subset on which Java (Spark) and RE2 (DuckDB) agree exactly:
# explicit [0-9] classes, \b word boundaries (identical [0-9A-Za-z_]
# word-char sets in both engines), no lookaround.  Order matters — each
# class is counted and redacted on the text AFTER the previous classes
# were redacted, so an email's digits can never double-count as a
# phone/IP ("1.2.3.4@x.com" is one email, zero IPs).
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII detection + redaction (the privacy-scrub step of a
    training-corpus pipeline, cf. Dolma/RedPajama pre-processing) ->
    (id, n_email, n_phone, n_ipv4 long, clean string).

    Sequential contract per PII_RULES: class k is counted on — and
    redacted from — the text with classes 1..k-1 already replaced by
    their tokens, so counts partition the matched spans (no overlap
    double-counting).  NULL text scrubs as ''.

    Scale shape: one pure-JVM projection (regexp_extract_all/
    regexp_replace inside whole-stage codegen), no shuffle, no Python —
    the scan streams at 100 TB.  Patterns live in PII_RULES and are
    Java/RE2-portable so the DuckDB oracle is bit-exact.
    """
    cur = F.coalesce(F.col(text_col), F.lit(""))
    cols = [F.col(id_col)]
    for name, pat, token in PII_RULES:
        cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    cols.append(cur.alias("clean"))
    return df.select(*cols)


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window passage extraction -> (id, chunk_idx int,
    chunk_text string, n_chars long), ordered windows of `chunk_chars`
    characters advancing by `chunk_chars - overlap` — the
    fixed-context-window chunking step of a pretraining/RAG pipeline.

    Chunk k covers [k*stride, k*stride + chunk_chars); the last chunk
    may be shorter, and a chunk is emitted only if it starts inside the
    text, so a document of length L yields ceil(max(L - overlap, 1) /
    stride) chunks and an empty document yields one empty chunk.  Pure
    codegen (sequence + transform + posexplode) — the corpus scan fans
    out to chunks with no shuffle and no Python.
    """
    if not 0 <= overlap < chunk_chars:
        raise ValueError(f"need 0 <= overlap={overlap} < chunk_chars={chunk_chars}")
    stride = chunk_chars - overlap
    arr = (
        f"transform(sequence(0, CAST(ceil(greatest(length({text_col}) - {overlap}, 1)"
        f" / {stride}.0) AS INT) - 1), "
        f"k -> substring({text_col}, k * {stride} + 1, {chunk_chars}))"
    )
    return df.select(
        F.col(id_col), F.posexplode(F.expr(arr)).alias("chunk_idx", "chunk_text")
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_text"),
        F.length("chunk_text").cast("long").alias("n_chars"),
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms
    (Robertson & Walker's Okapi weighting, the retrieval/quality-
    filtering standard) -> (id_col, n_hit int, score_q long) for docs
    matching >= 1 term.

    Deterministic all-integer contract (no logs, no float division —
    bit-exact in any ANSI engine):

    * token    = maximal [a-z0-9]+ run of lower(text);
    * avgdl_16 = (16 * total_tokens) DIV n_docs — the corpus average
      doc length carried as a x16 fixed-point integer;
    * idf_1024 = ((2N - 2df + 1) * 1024) DIV (2df + 1) — the rational
      core of the Robertson-Sparck-Jones idf with the log dropped
      (monotone in the same argument, strictly positive for df <= N,
      which also removes classic BM25's negative-idf wart);
    * tf part  = 2.2*tf / (tf + 1.2*(0.25 + 0.75*dl/avgdl)) at the
      standard k1=1.2, b=0.75, cleared of denominators:
      tfp_1024 = (22 * tf * A * 1024) DIV (10*tf*A + 3*A + 144*dl)
      with A = avgdl_16;
    * score_q  = sum over matched terms of idf_1024 * tfp_1024 (exact
      int64; fits while 2N*1024 * 2253 < 2^63, i.e. N < ~2*10^12).

    Scale shape: the term list is a literal broadcast predicate pushed
    into the explode, so only query-term occurrences ever shuffle (a
    few rows per matching doc, never the corpus); tf and df are
    map-side-combined groupBys on that tiny table; corpus stats (N,
    total tokens) are one scalar agg cross-joined back; df is a
    broadcast join on term.
    """
    toks = df.select(
        F.col(id_col),
        F.expr(
            f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t <> '')"
        ).alias("_t"),
    )
    lens = toks.select(id_col, F.size("_t").cast("long").alias("_dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n_docs"), F.sum("_dl").alias("_tot")
    ).select(
        "_n_docs", F.expr("CAST((16 * _tot) DIV _n_docs AS LONG)").alias("_a")
    )
    hits = (
        toks.select(id_col, F.explode("_t").alias("_term"))
        .where(F.col("_term").isin([t.lower() for t in terms]))
    )
    tf = hits.groupBy(id_col, "_term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.expr("((2 * _n_docs - 2 * _df + 1) * 1024) DIV (2 * _df + 1)"),
        )
        .withColumn(
            "_tfp",
            F.expr(
                "(22 * _tf * _a * 1024) DIV "
                "(10 * _tf * _a + 3 * _a + 144 * _dl)"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_hit"),
        F.sum(F.col("_idf") * F.col("_tfp")).alias("score_q"),
    )


def token_topk(
    df: DataFrame,
    k: int = 32,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact corpus vocabulary head: the k most frequent tokens per
    `by` group -> (by, rank int, token string, n_occurrences,
    n_docs long) — the frequency-table step of tokenizer-vocab
    building and of stopword/boilerplate inspection.

    Token CONTRACT (same as bm25_scores): maximal [a-z0-9]+ runs of
    lower(text).  Deterministic total order: rank by occurrence count
    desc, then token asc — ties can never reorder across engines.

    Scale shape: one codegen explode of the corpus scan; the groupBy
    (by, token) shuffle is map-side combined, so shuffle rows are
    bounded by DISTINCT (group, token) — Zipf makes that tiny relative
    to the corpus; the rank window then runs on the aggregated table
    (vocab-sized, not corpus-sized).  No Python anywhere.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(by),
        F.col(id_col),
        F.explode(
            F.expr(f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t <> '')")
        ).alias("token"),
    )
    cnt = toks.groupBy(by, "token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    w = Window.partitionBy(by).orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    )
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(by),
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


def lm_familiarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Corpus-LM quality proxy (the CCNet/Gopher "familiar language"
    filter, sketch-composed): train a Count-Min sketch of corpus token
    frequencies, then score every document by the average estimated
    corpus frequency of its own tokens -> (id_col, n_tok, sum_est,
    fam) with fam = sum_est DIV n_tok — all-integer, exact in any
    ANSI engine (the bm25_scores discipline; no logs, no float math).

    Rare/garbled text (OCR noise, wrong-language fragments, markup
    soup) averages low corpus frequency; natural in-distribution text
    averages high — the cheap stand-in for a KenLM perplexity gate,
    trained and applied in one job.  Documents with zero [a-z0-9]+
    tokens emit no row (nothing to average).  The token stream is
    scanned three times (sketch build, distinct vocab, occurrence
    scoring) — at corpus scale, materialize the tokenized table once
    (checkpoint/persist) and feed it to all three.

    Scale shape: pass 1 is countmin_sketch — bounded d*w counter
    state, map-side combined, shuffle volume <= d*w per partition
    regardless of corpus size.  Pass 2 probes the DISTINCT token
    vocabulary against the broadcast grid (countmin_estimate) and
    broadcast-joins the per-token estimates back to token occurrences;
    the per-doc sums are one map-side-combined groupBy.  The sketch
    grid is tiny by construction; the estimates broadcast is
    vocab-bounded — for an open-vocabulary corpus whose distinct-token
    table outgrows a broadcast, probe per OCCURRENCE instead (explode
    d hash rows, min per occurrence) at the price of one extra
    shuffle; the sketch itself never grows either way.
    """
    from .sketches import countmin_estimate, countmin_sketch

    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(
            f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t <> '')"
        )).alias("tok"),
    )
    sketch = countmin_sketch(toks, "tok", d=d, w=w)
    vocab = toks.select(F.col("tok").alias("term")).distinct()
    est = countmin_estimate(sketch, vocab, "term", d=d, w=w)
    occ = toks.join(F.broadcast(est), toks["tok"] == est["term"]).select(
        id_col, "est_count"
    )
    return (
        occ.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("est_count").alias("sum_est"),
        )
        .select(
            F.col(id_col),
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("sum_est").cast("long").alias("sum_est"),
            F.expr("sum_est DIV n_tok").alias("fam"),
        )
    )
