"""Tests for the SQL-derivable hash family (functions/texthash.py) and
the operators rebuilt on it: MinHash-LSH, SimHash, doc_fingerprint,
DF-capped n-gram Jaccard, and the similarity-search rewrites.

The load-bearing tests are the agreement checks: the base hash's SQL
text gives the same values in Spark, DuckDB and numpy, and each hash
family's Arrow kernel equals its DuckDB oracle (or a numpy reference)
on adversarial inputs.  They are what entitle the __spark_entry__.py
hash-comparing oracle gate to check these operators at all.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialjoincountovershells_spark.functions.texthash import (
    MAXLEN,
    affine_consts,
    poly_hash_duck,
    poly_hash_np,
    poly_hash_spark,
)
from spatialjoincountovershells_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from spatialjoincountovershells_spark.operators.similarity import (
    ann_l2_topk,
    lsh_cosine_pairs,
)
from spatialjoincountovershells_spark.operators.text import doc_fingerprint
from spatialjoincountovershells_spark.operators.dedup import simhash

SAMPLES = [
    "", "a", "hello world", "é-accented ünïcode", "x" * (MAXLEN + 10),
    "the quick brown fox", "the quick brown fax", " leading space",
]


def test_poly_hash_three_engines(spark):
    want = poly_hash_np(SAMPLES)
    sdf = spark.createDataFrame(pd.DataFrame({"s": SAMPLES}))
    got_spark = (
        sdf.select(F.expr(poly_hash_spark("s")).alias("h")).toPandas()["h"].to_numpy()
    )
    np.testing.assert_array_equal(got_spark, want)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": SAMPLES}))
    got_duck = con.execute(f"SELECT {poly_hash_duck('s')} FROM t").df().iloc[:, 0].to_numpy()
    np.testing.assert_array_equal(got_duck, want)


def test_affine_consts_in_range():
    for i in (0, 1, 63, 1000):
        a, c = affine_consts(i)
        assert 1 <= a < 2**31 - 1 and 0 <= c < 2**31 - 1


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    )


def test_minhash_lsh_dups_collide(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    texts = [base, base, "completely different content about spark plans " * 5]
    pairs = minhash_lsh_pairs(_docs(spark, texts)).toPandas()
    dup = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)]
    assert len(dup) == 1 and dup.iloc[0].n_bands_hit == 8  # identical: all bands
    assert len(pairs[(pairs.doc_b == 2) | (pairs.doc_a == 2)]) == 0


def test_simhash_near_dup_small_hamming(spark):
    a = "spark catalyst optimizes declarative dataframe plans into stages " * 3
    b = a.replace("stages", "phases", 1)
    out = simhash(_docs(spark, [a, a, b])).orderBy("doc_id").toPandas()
    assert out.simhash[0] == out.simhash[1]
    ham = bin((int(out.simhash[0]) ^ int(out.simhash[2])) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 24  # one token of ~27 changed


def test_simhash_pairs_bruteforce_recall(spark):
    """Banding must find EVERY pair with hamming < bands (pigeonhole) —
    compare against a brute force over the signatures."""
    from spatialjoincountovershells_spark.operators.dedup import simhash_pairs

    base = "spark catalyst optimizes declarative dataframe plans into stages "
    texts = [
        base * 3,
        base * 3,                                   # exact dup -> hamming 0
        (base * 3).replace("stages", "phases", 1),  # near dup
        "entirely unrelated content about image tile decoding " * 4,
        "another distinct document on minhash banding theory " * 4,
    ]
    docs = _docs(spark, texts)
    sigs = {r.doc_id: int(r.simhash) for r in simhash(docs).collect()}
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                want[(a, b)] = h
    df = simhash_pairs(docs, max_hamming=3)
    got = {(r.doc_a, r.doc_b): r.hamming for r in df.collect()}
    assert got == want and (0, 1) in got and got[(0, 1)] == 0


def test_arrowhash_matches_sql(spark):
    """with_poly_hash_arrow must equal the interpreted poly_hash_spark
    HOF bit-for-bit: NULL -> NULL, '' -> 0, MAXLEN cap, unicode and
    astral codepoints, and passthrough of the other columns."""
    from spatialjoincountovershells_spark.functions.arrowhash import (
        with_poly_hash_arrow,
    )
    from spatialjoincountovershells_spark.functions.texthash import (
        poly_hash_spark,
    )

    vals = [
        None,
        "",
        "a",
        "hello world",
        "café ☃ naïve \U0001f600",
        "x" * 63,
        "y" * 64,
        "z" * 200,  # past the MAXLEN cap
        " leading space",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, tok string"
    )
    got = {
        r.doc_id: r._base
        for r in with_poly_hash_arrow(df, "tok").collect()
    }
    want = {
        r.doc_id: r._base
        for r in df.select(
            "doc_id", F.expr(poly_hash_spark("tok")).alias("_base")
        ).collect()
    }
    assert got == want and got[0] is None and got[1] == 0
    # cap: chars past MAXLEN must not change the hash
    assert got[7] == want[7] and got[6] is not None


def test_arrowhash_quotes_names_and_rejects_collision(spark):
    """with_poly_hash_arrow's output schema backtick-quotes every name
    (a space, a hyphen), and an ``out`` that already names a column
    raises instead of silently shadowing it."""
    from spatialjoincountovershells_spark.functions.arrowhash import (
        with_poly_hash_arrow,
    )
    from spatialjoincountovershells_spark.functions.texthash import (
        poly_hash_np,
    )

    vals = ["a", "hello world", "café"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, s string"
    ).toDF("doc id", "tok-s")
    out = with_poly_hash_arrow(df, "tok-s", out="h-x")
    assert out.columns == ["doc id", "tok-s", "h-x"]
    got = [r["h-x"] for r in out.orderBy("doc id").collect()]
    assert got == poly_hash_np(vals).tolist()
    with pytest.raises(ValueError, match="already exists"):
        with_poly_hash_arrow(df, "tok-s", out="doc id")


def test_simhash_arrow_matches_expr(spark):
    """The vectorized simhash kernel must be bit-identical to the
    DuckDB oracle (_simhash_sql): multi-whitespace runs
    (tab/CR/LF/VT/FF — VT splits in Java \\s but not in RE2 \\s),
    NON-ASCII whitespace (\\xa0 is a token char in Java \\s — both
    must agree), >MAXLEN tokens, unicode, leading/trailing whitespace,
    and no-token docs (empty / all-whitespace / NULL) which must emit
    NO row."""
    import __spark_entry__ as entrymod

    from spatialjoincountovershells_spark.operators.dedup import simhash

    texts = [
        "plain words here",
        "  leading and trailing  ",
        "tabs\tand\nnewlines\x0bvt\x0cff\rcr separated",
        "nbsp\xa0is-part-of-token and caf\xe9 ☃ \U0001f600",
        "x" * 200 + " capped-token " + "y" * 70,
        "",
        " \t\n ",
        None,
        "repeat repeat repeat repeat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = dict(con.execute(entrymod._simhash_sql()).fetchall())
    assert got == want
    assert 5 not in got and 6 not in got and 7 not in got and 0 in got


def test_doc_fingerprint_engines_agree_and_dup_equal(spark):
    """The Arrow kernel == the DuckDB oracle (_doc_fingerprint_sql)
    bit-for-bit (incl. the zero-padded short-text window, empty text
    and unicode), and duplicate docs share a fingerprint."""
    import __spark_entry__ as entrymod

    texts = [
        "abcdefghijklmnopqrstuvwxyz0123",
        "abcdefghijklmnopqrstuvwxyz0123",
        "short",
        "",
        "café ☃ naïve \U0001f600 sixteen+ chars of unicode",
    ]
    docs = _docs(spark, texts)
    out = doc_fingerprint(docs).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(
        entrymod._doc_fingerprint_sql() + " ORDER BY doc_id"
    ).df().fingerprint.tolist()
    assert out.fingerprint.tolist() == want
    assert out.fingerprint[0] == out.fingerprint[1]
    assert (out.fingerprint >= 0).all()


def test_ngram_jaccard_df_cap_drops_stop_shingles(spark):
    # five identical docs: every shingle has df=5.  With max_df=3 the
    # whole (non-discriminative) shingle set is dropped -> no pairs and,
    # critically, no 5x5 join blowup; uncapped finds all 10 exact pairs.
    texts = ["all work and no play makes a dull engine " * 3] * 5
    capped = ngram_jaccard_pairs(_docs(spark, texts), max_df=3).toPandas()
    assert len(capped) == 0
    uncapped = ngram_jaccard_pairs(_docs(spark, texts), max_df=None).toPandas()
    assert len(uncapped) == 10 and (uncapped.jac_1000 == 1000).all()


def _rand_emb(spark, n, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    return spark.createDataFrame(pdf), vecs


@pytest.mark.parametrize("n", [300, 5000])
def test_ann_l2_matches_numpy_bruteforce(spark, n):
    """Exact blocked top-k == numpy all-pairs oracle (incl. 10x contract scale)."""
    emb, vecs = _rand_emb(spark, n)
    k = 3
    got = (
        ann_l2_topk(emb, k=k, query_blocks=3, corpus_blocks=4)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    Q = np.floor(vecs.astype(np.float64) * 1024)
    d2 = ((Q[:, None, :] - Q[None, :, :]) ** 2).sum(-1) if n <= 1000 else None
    if d2 is None:
        n2 = (Q * Q).sum(1)
        d2 = n2[:, None] + n2[None, :] - 2 * (Q @ Q.T)
    np.fill_diagonal(d2, np.inf)
    order = np.lexsort((np.broadcast_to(np.arange(n), (n, n)), d2), axis=1)
    want_n = order[:, :k]
    got_n = got.neighbor_id.to_numpy().reshape(n, k)
    np.testing.assert_array_equal(got_n, want_n)


def test_ann_l2_separate_query_frame(spark):
    emb, vecs = _rand_emb(spark, 200)
    q = emb.where(F.col("vec_id") < 5)
    out = ann_l2_topk(emb, k=2, queries=q).toPandas()
    assert sorted(out.query_id.unique()) == [0, 1, 2, 3, 4]
    assert (out.groupby("query_id").size() == 2).all()
    assert (out.query_id != out.neighbor_id).all()


def test_ann_ivf_full_probe_exact(spark):
    """n_probe == n_centroids probes every inverted list, so the IVF
    candidate set is complete and the re-rank must equal the exact
    block-nested-loop top-k bit-for-bit."""
    from spatialjoincountovershells_spark.operators.similarity import ann_ivf_topk

    emb, _ = _rand_emb(spark, 250)
    k = 3
    exact = (
        ann_l2_topk(emb, k=k, query_blocks=2, corpus_blocks=2)
        .orderBy("query_id", "rank").toPandas()
    )
    ivf = (
        ann_ivf_topk(emb, k=k, n_centroids=8, n_probe=8)
        .orderBy("query_id", "rank").toPandas()
    )
    pd.testing.assert_frame_equal(ivf.reset_index(drop=True),
                                  exact.reset_index(drop=True))


def test_ann_ivf_partial_probe_shape(spark):
    """With n_probe < n_centroids the result stays well-formed: <= k
    ranked rows per query, ranks contiguous from 1, no self-matches."""
    from spatialjoincountovershells_spark.operators.similarity import ann_ivf_topk

    emb, _ = _rand_emb(spark, 250, seed=9)
    out = ann_ivf_topk(emb, k=3, n_centroids=8, n_probe=2).toPandas()
    assert (out.query_id != out.neighbor_id).all()
    g = out.groupby("query_id")["rank"]
    assert (g.max() <= 3).all() and (g.min() == 1).all()
    assert (g.apply(lambda r: sorted(r) == list(range(1, len(r) + 1)))).all()


def test_lsh_cosine_banded_identical_collide(spark):
    rng = np.random.default_rng(11)
    v = rng.normal(size=32).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(4, dtype=np.int64),
            "embedding": [list(v), list(v), list(-v), list(rng.normal(size=32).astype(np.float32))],
        }
    )
    emb = spark.createDataFrame(pdf)
    pairs = lsh_cosine_pairs(emb, n_planes=8, bands=4).toPandas()
    got = set(map(tuple, pairs[["doc_a", "doc_b"]].to_numpy()))
    assert (0, 1) in got      # identical vectors share every band
    assert (0, 2) not in got  # antipodal vectors share none


def test_cosine_dedup_pairs_finds_identical(spark):
    from spatialjoincountovershells_spark.operators.similarity import (
        cosine_dedup_pairs,
    )

    rng = np.random.default_rng(23)
    v = rng.normal(size=32).astype(np.float32)
    w = v + rng.normal(scale=0.01, size=32).astype(np.float32)  # near-dup
    others = [rng.normal(size=32).astype(np.float32) for _ in range(6)]
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(9, dtype=np.int64),
            "embedding": [list(v), list(v), list(w)] + [list(o) for o in others],
        }
    )
    out = cosine_dedup_pairs(
        spark.createDataFrame(pdf), min_sim_1e6=950_000
    ).toPandas()
    got = set(map(tuple, out[["doc_a", "doc_b"]].to_numpy()))
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert out[out.doc_a == 0].sim_1e6.max() >= 999_000
    assert not any(a > 2 or b > 2 for a, b in got)  # randoms not near-dups


def test_ann_l2_candidate_route(spark):
    """candidates= hook (VERDICT r2 #5): LSH candidates + exact bucketed
    re-rank returns IDENTICAL top-k to the exact block-nested-loop on a
    clustered dataset where LSH recall is total — tight clusters of
    size > k whose members share every band signature (10x the contract
    scale, seeded)."""
    rng = np.random.default_rng(17)
    n_clusters, per, dim, k = 60, 11, 8, 3
    centers = rng.normal(size=(n_clusters, dim)) * 10.0
    vecs = (
        np.repeat(centers, per, axis=0)
        + rng.normal(size=(n_clusters * per, dim)) * 1e-3
    ).astype(np.float32)
    n = len(vecs)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    emb = spark.createDataFrame(pdf)
    cand = lsh_cosine_pairs(emb, n_planes=8, bands=4, seed=7, dim=dim)
    both = cand.selectExpr("doc_a AS query_id", "doc_b AS neighbor_id").union(
        cand.selectExpr("doc_b AS query_id", "doc_a AS neighbor_id")
    )
    got = (
        ann_l2_topk(emb, k=k, candidates=both)
        .orderBy("query_id", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        ann_l2_topk(emb, k=k, query_blocks=3, corpus_blocks=4)
        .orderBy("query_id", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_phash_near_dup_bruteforce_recall(spark):
    """Banded Hamming join on the images phash column (bits=48, 3 bands)
    finds exactly the brute-force pair set at max_hamming=2, stays
    JVM-side, and the planted single-bit variant is recovered."""
    import numpy as np

    from spatialjoincountovershells_spark.operators.images import phash_near_dup

    rng = np.random.default_rng(5)
    ph = rng.integers(0, 1 << 48, 300, dtype=np.int64)
    ph = np.concatenate([ph, ph[:20] ^ (1 << 7), ph[:5] ^ ((1 << 3) | (1 << 40))])
    ids = np.arange(len(ph))
    df = spark.createDataFrame(
        [(int(i), int(p)) for i, p in zip(ids, ph)], "image_id long, phash long"
    )
    out = phash_near_dup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    got = {(r.image_a, r.image_b): r.hamming for r in out.collect()}
    want = {}
    for i in range(len(ph)):
        for j in range(i + 1, len(ph)):
            h = int(bin((int(ph[i]) ^ int(ph[j])) & ((1 << 64) - 1)).count("1"))
            if h <= 2:
                want[(i, j)] = h
    assert got == want
    assert got[(0, 300)] == 1 and got[(0, 320)] == 2


def test_minhash_arrow_buckets_match_expr(spark):
    """The Arrow bucket kernel must be bit-identical to a per-shingle
    numpy reference of the texthash family (affine streams over the
    distinct shingles' base hashes, band_key_sql's key formula), and
    minhash_lsh_pairs must equal the DuckDB oracle (_minhash_lsh_sql)
    pair-for-pair: unicode, exact-boundary-length, repeated-shingle and
    long texts, plus NULL and sub-shingle docs, which emit no buckets."""
    import __spark_entry__ as entrymod

    from spatialjoincountovershells_spark.functions.texthash import (
        POW2S,
        P,
    )
    from spatialjoincountovershells_spark.operators.dedup import (
        minhash_band_buckets,
    )

    texts = [
        "abcdefgh",                      # exactly shingle_n chars -> 1 shingle
        "abababababababab",
        "the the the the the",
        "z" * 8 + "café ☃ naïve \U0001f600 text" * 3,
        "The quick brown fox jumps over the lazy dog. " * 10,
        "The quick brown fox jumps over the lazy dog. " * 10,  # dup doc
        "tiny",                          # sub-shingle: no buckets
        None,                            # NULL: no buckets
    ]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    n_hashes, bands, n = 32, 8, 8
    r = n_hashes // bands
    want = set()
    for i, t in enumerate(texts):
        if t is None or len(t) < n:
            continue
        base = poly_hash_np(sorted({t[u:u + n] for u in range(len(t) - n + 1)}))
        mh = []
        for j in range(n_hashes):
            a, c = affine_consts(j)
            mh.append(int(((a * base + c) % P).min()))
        for b in range(bands):
            key = sum((mh[b * r + j] * POW2S[j]) % P for j in range(r)) % P
            want.add((i, b, key))
    assert {tuple(x) for x in minhash_band_buckets(docs).collect()} == want
    got = minhash_lsh_pairs(docs).orderBy("doc_a", "doc_b").toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = con.execute(entrymod._minhash_lsh_sql() + " ORDER BY doc_a, doc_b").df()
    np.testing.assert_array_equal(
        got[["doc_a", "doc_b", "n_bands_hit"]].to_numpy(np.int64),
        oracle[["doc_a", "doc_b", "n_bands_hit"]].to_numpy(np.int64),
    )
    assert (4, 5) in set(zip(got.doc_a, got.doc_b))


def test_crossmodal_dup_planted_classification(spark):
    """crossmodal_dup_pairs classifies planted variants correctly:
    same-caption + 1-bit phash flip -> 'both' (8/8 caption bands,
    hamming 1); different-caption + 2-bit flip -> 'image_only'
    (hamming 2, bands coalesced to 0); same-caption + unrelated
    phash -> 'caption_only' (hamming coalesced to -1)."""
    import numpy as np

    from spatialjoincountovershells_spark.operators.images import (
        crossmodal_dup_pairs,
    )
    from spatialjoincountovershells_spark.sources.synth import splitmix64

    n = 60
    ids = np.arange(n, dtype=np.uint64)
    cap = [
        f"cap {splitmix64(i ^ np.uint64(11))} {splitmix64(i ^ np.uint64(12))}"
        for i in ids
    ]
    alt = [
        f"alt {splitmix64(i ^ np.uint64(13))} {splitmix64(i ^ np.uint64(14))}"
        for i in ids
    ]
    ph = splitmix64(ids ^ np.uint64(15)).astype(np.int64) & ((1 << 48) - 1)
    ph_alt = splitmix64(ids ^ np.uint64(16)).astype(np.int64) & ((1 << 48) - 1)
    rows = [(int(i), int(ph[i]), cap[i]) for i in range(n)]
    rows += [  # v1: both
        (int(i) + 1000, int(ph[i] ^ (1 << (i % 16))), cap[i])
        for i in range(0, n, 10)
    ]
    rows += [  # v2: image_only
        (int(i) + 2000, int(ph[i] ^ (1 << (i % 16)) ^ (1 << (16 + i % 16))), alt[i])
        for i in range(0, n, 15)
    ]
    rows += [  # v3: caption_only
        (int(i) + 3000, int(ph_alt[i]), cap[i]) for i in range(0, n, 20)
    ]
    df = spark.createDataFrame(rows, "image_id long, phash long, caption string")
    got = {
        (r.image_a, r.image_b): (r.n_caption_bands, r.hamming, r.match_kind)
        for r in crossmodal_dup_pairs(df).collect()
    }
    for i in range(0, n, 10):
        assert got[(i, i + 1000)] == (8, 1, "both")
    for i in range(0, n, 15):
        bands, ham, kind = got[(i, i + 2000)]
        assert (ham, kind) == (2, "image_only") and bands == 0
    for i in range(0, n, 20):
        bands, ham, kind = got[(i, i + 3000)]
        assert (bands, ham, kind) == (8, -1, "caption_only")
    for (a, b), (bands, ham, kind) in got.items():
        if kind == "caption_only":
            assert ham == -1 and bands > 0
        elif kind == "image_only":
            assert 0 <= ham <= 2 and bands == 0
        else:
            assert 0 <= ham <= 2 and bands > 0


def test_lm_familiarity_vs_python_replay(spark):
    """lm_familiarity == a pure-python Count-Min replay on the same
    texthash family: exact n_tok / sum_est / integer-div fam, and a
    garbled doc scores below the natural ones."""
    import re

    import numpy as np

    from spatialjoincountovershells_spark.functions.texthash import (
        affine_consts,
        poly_hash_np,
    )
    from spatialjoincountovershells_spark.operators.text import lm_familiarity

    texts = [
        "the cat sat on the mat and the dog sat too",
        "the dog and the cat ran to the mat",
        "zxqj vwpk qqyz zxqj",          # garbled: rare tokens only
        "the the the the",               # degenerate natural
        "   ",                           # zero tokens: no output row
    ]
    d, w = 4, 64
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["sum_est"], r["fam"])
        for r in lm_familiarity(df, d=d, w=w).collect()
    }

    toks_per_doc = [
        [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t] for s in texts
    ]
    all_toks = [t for ts in toks_per_doc for t in ts]
    base = poly_hash_np(np.array(all_toks, dtype=object))
    grid: dict = {}
    M = (1 << 31) - 1
    for i in range(d):
        a, b = affine_consts(i)
        for h in base:
            key = (i, ((int(h) * a + b) % M) % w)
            grid[key] = grid.get(key, 0) + 1

    def est(tok):
        h = int(poly_hash_np(np.array([tok], dtype=object))[0])
        return min(
            grid.get((i, ((h * affine_consts(i)[0] + affine_consts(i)[1])
                          % M) % w), 0)
            for i in range(d)
        )

    want = {}
    for i, ts in enumerate(toks_per_doc):
        if not ts:
            continue
        s = sum(est(t) for t in ts)
        want[i] = (len(ts), s, s // len(ts))
    assert got == want
    assert 4 not in got  # the zero-token doc emits no row
    assert got[2][2] < got[0][2]  # garbled text scores below natural


# --------------------------------------------------------- hot-bucket cap

def test_bucket_pairs_hot_bucket_cap(spark):
    """A planted degenerate bucket (20 identical texts -> one bucket per
    band) is DROPPED by the max_bucket cap, so no task ever expands its
    C(n,2) pairs; distinct near-dups elsewhere still surface, and
    oversized_buckets reports exactly the dropped buckets."""
    from spatialjoincountovershells_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_lsh_pairs,
        oversized_buckets,
    )

    hot = ["identical boilerplate text repeated across the shard " * 3] * 20
    a = "a genuinely unique document about catalyst plan shapes " * 3
    b = a.replace("shapes", "shaped", 1)
    docs = _docs(spark, hot + [a, b])

    capped = minhash_lsh_pairs(docs, max_bucket=8).toPandas()
    got = set(map(tuple, capped[["doc_a", "doc_b"]].to_numpy()))
    assert (20, 21) in got                      # near-dup pair survives
    assert all(x >= 20 for ab in got for x in ab)  # hot bucket emits none

    uncapped = minhash_lsh_pairs(docs, max_bucket=None).toPandas()
    hotpairs = uncapped[(uncapped.doc_a < 20) & (uncapped.doc_b < 20)]
    assert len(hotpairs) == 20 * 19 // 2        # C(20,2), all bands hit
    assert (hotpairs.n_bands_hit == 8).all()

    over = oversized_buckets(
        minhash_band_buckets(docs), ["band", "key"], "doc_id", max_bucket=8
    ).toPandas()
    assert len(over) == 8 and (over.n_ids == 20).all()  # one per band


def test_minhash_cap_matches_duckdb_oracle(spark):
    """The cap is mirrored in the oracle: Spark minhash_lsh_pairs with
    max_bucket=8 == _minhash_lsh_sql(max_bucket=8) on a corpus where
    the cap actually fires (20-doc hot bucket)."""
    import __spark_entry__ as entrymod

    hot = ["identical boilerplate text repeated across the shard " * 3] * 20
    a = "a genuinely unique document about catalyst plan shapes " * 3
    b = a.replace("shapes", "shaped", 1)
    texts = hot + [a, b]
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    got = (
        minhash_lsh_pairs(spark.createDataFrame(pdf), max_bucket=8)
        .orderBy("doc_a", "doc_b").toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        entrymod._minhash_lsh_sql(max_bucket=8) + " ORDER BY doc_a, doc_b"
    ).df()
    assert len(got) == len(want) == 1
    np.testing.assert_array_equal(
        got[["doc_a", "doc_b", "n_bands_hit"]].to_numpy(np.int64),
        want[["doc_a", "doc_b", "n_bands_hit"]].to_numpy(np.int64),
    )


def test_hamming_pairs_hot_bucket_cap(spark):
    """Same cap on the signature-carrying banded Hamming join: 20
    identical simhashes are a hot slice in every band."""
    from spatialjoincountovershells_spark.operators.dedup import simhash_pairs

    hot = ["spark catalyst optimizes declarative dataframe plans " * 3] * 20
    docs = _docs(spark, hot)
    assert len(simhash_pairs(docs, max_bucket=8).toPandas()) == 0
    full = simhash_pairs(docs, max_bucket=None).toPandas()
    assert len(full) == 20 * 19 // 2 and (full.hamming == 0).all()


def test_ann_l2_exhaustive_guard(spark, tmp_path):
    """Self-search above exhaustive_limit refuses unless exhaustive=True
    (round-4 VERDICT #3 — same policy as pq_ann_topk).  The refusal
    sizes the corpus from metadata with no Spark job (an in-memory
    relation, a parquet scan's footers), else with a count bounded at
    the limit."""
    from fixtures import jobs_in_group

    emb, _ = _rand_emb(spark, 40, dim=8, seed=5)
    emb.write.parquet(str(tmp_path / "emb"))

    def refuse(df):
        with pytest.raises(ValueError, match="exhaustive") as e:
            ann_l2_topk(df, k=2, exhaustive_limit=10)
        return str(e.value)

    for case, df in (("local", emb),
                     ("parquet", spark.read.parquet(str(tmp_path / "emb")))):
        msg, jobs = jobs_in_group(spark, case, lambda: refuse(df))
        assert jobs == 0 and "(40 corpus rows" in msg
    assert "(more than 10 corpus rows)" in refuse(emb.union(emb))
    out = ann_l2_topk(emb, k=2, exhaustive_limit=10, exhaustive=True).toPandas()
    assert len(out) == 40 * 2
