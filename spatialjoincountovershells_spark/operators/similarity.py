"""Similarity search over embedding columns (array<float>).

* ann_l2_topk      — exact top-k by L2 on quantized-integer vectors;
                     distributed block-nested-loop (neither side is
                     ever collected to the driver).  All math is exact
                     int64, so an ANSI-SQL oracle matches bit-for-bit.
* ann_cosine_topk  — cosine top-k of a SMALL broadcast query set vs
                     the streamed corpus; integer-quantized dot/norms
                     with one deterministic float64 normalize step, so
                     the DuckDB oracle is bit-exact.
* lsh_cosine_pairs — random-hyperplane LSH with BANDED signatures:
                     the approximate scale path for all-pairs near-dup
                     (exact corpus-vs-corpus top-k is inherently
                     O(n^2); use LSH candidates + exact re-rank).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.synth import splitmix64
from ..sources.tableio import count_rows, count_rows_past
from .dedup import bucket_pairs


def _quant_np(col: pd.Series, scale: int) -> np.ndarray:
    # floor(x * scale) in float64: IEEE-identical across engines
    return np.floor(np.stack(col.to_numpy()).astype(np.float64) * scale)


def ann_l2_topk(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 1024,
    queries: DataFrame | None = None,
    query_blocks: int | None = None,
    corpus_blocks: int | None = None,
    candidates: DataFrame | None = None,
    exhaustive: bool = False,
    exhaustive_limit: int = 100_000,
    candidates_distinct: bool = False,
) -> DataFrame:
    """-> (query_id, neighbor_id, rank, qd2) exact integer L2 top-k.

    Vectors are quantized per element to floor(x*scale) (int64); the
    squared distance is then exact integer arithmetic (float64 matmul
    is integer-exact while quant_scale^2 * dim < 2^53).

    Execution — distributed block-nested-loop, nothing on the driver:
    the corpus is hash-split into `corpus_blocks` groups and the query
    side into `query_blocks`; each side is replicated across the other
    side's block ids so every (qb, cb) cogroup holds one exact distance
    block.  Per-block candidates keep everything within the block's
    kth-smallest distance (boundary ties included), and one final
    window re-ranks globally — bit-identical to the all-pairs oracle.
    O(n*m) compute is inherent to the EXACT baseline; per-task memory
    is O(n*m / (QB*CB)) and shuffle is n*CB + m*QB rows.

    candidates: the corpus-vs-corpus SCALE path — a DataFrame of
    (query_id, neighbor_id) pairs (e.g. lsh_cosine_pairs expanded to
    both directions); when given, the exact integer L2 + global window
    re-rank runs ONLY on those pairs via a JVM zip_with expression (no
    O(n*m) block anywhere).  Identical output to the exact path
    whenever the candidate set contains every true top-k pair
    (test_ann_l2_candidate_route).  Duplicate (query, neighbor) pairs
    would each take a rank slot, so the pair table is deduped first —
    pass candidates_distinct=True when the generator guarantees
    uniqueness (ivf_candidates does: each neighbor lives in exactly one
    inverted list) to skip that shuffle, the largest intermediate's.

    Guard (round-4 VERDICT, same policy as pq_ann_topk): without
    `candidates=` this IS the exact O(n*m) baseline — above
    `exhaustive_limit` corpus rows in self-search mode the call raises
    unless `exhaustive=True` is passed explicitly, pointing at the
    candidate generators (lsh_cosine_pairs / ivf_candidates), so a
    production-scale corpus can't silently schedule 10^12-row work.
    The corpus is sized by ``sources.tableio.count_rows_past``: from
    parquet footers with no Spark job, else a count that stops at
    `exhaustive_limit` + 1 rows, never a full scan.
    """
    spark = emb.sparkSession
    if candidates is None and queries is None and not exhaustive:
        n, exact = count_rows_past(emb, exhaustive_limit)
        if n > exhaustive_limit:
            size = (f"{n} corpus rows -> ~{n * n:.0e} distances" if exact
                    else f"more than {exhaustive_limit} corpus rows")
            raise ValueError(
                f"ann_l2_topk without candidates= is an exact "
                f"all-pairs search ({size}). Pass candidates= "
                f"(lsh_cosine_pairs / "
                f"ivf_candidates output), a small queries= frame, or "
                f"exhaustive=True to insist."
            )
    if candidates is not None:
        quant = F.transform(
            F.col(vec_col),
            lambda e: F.floor(e.cast("double") * F.lit(float(quant_scale))).cast("long"),
        )
        qsrc = (queries if queries is not None else emb).select(
            F.col(id_col).alias("query_id"), quant.alias("_qv")
        )
        csrc = emb.select(F.col(id_col).alias("neighbor_id"), quant.alias("_cv"))
        d2 = F.expr(
            "aggregate(zip_with(_qv, _cv, (a, b) -> (a - b) * (a - b)), "
            "0L, (s, x) -> s + x)"
        )
        cand = candidates.select("query_id", "neighbor_id").where(
            F.col("query_id") != F.col("neighbor_id")
        )
        if not candidates_distinct:
            cand = cand.distinct()
        pairs = (
            cand
            .join(qsrc, "query_id")
            .join(csrc, "neighbor_id")
            .select("query_id", "neighbor_id", d2.alias("qd2"))
        )
        w = Window.partitionBy("query_id").orderBy("qd2", "neighbor_id")
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "qd2")
        )
    par = spark.sparkContext.defaultParallelism
    if corpus_blocks is None:
        corpus_blocks = max(2, int(round(par ** 0.5)))
    if query_blocks is None:
        query_blocks = max(2, int(round(par ** 0.5)))
    src = (queries if queries is not None else emb).select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    )
    corpus = emb.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))
    # both grouping keys MUST be int on both sides: cogroup on a long
    # pmod vs an int sequence element silently misaligns the groups
    q = src.withColumn(
        "_qb", F.pmod(F.col("_qid"), F.lit(query_blocks)).cast("int")
    ).withColumn("_cb", F.explode(F.sequence(F.lit(0), F.lit(corpus_blocks - 1))))
    c = corpus.withColumn(
        "_cb", F.pmod(F.col("_cid"), F.lit(corpus_blocks)).cast("int")
    ).withColumn("_qb", F.explode(F.sequence(F.lit(0), F.lit(query_blocks - 1))))

    def kern(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "qd2": pd.Series(dtype="int64")}
        )
        if len(qpdf) == 0 or len(cpdf) == 0:
            return empty
        C = _quant_np(cpdf["_cv"], quant_scale)
        dim = C.shape[1]
        assert quant_scale**2 * dim < 2**52, "quantized math would lose exactness"
        cids = cpdf["_cid"].to_numpy(np.int64)
        c2 = (C * C).sum(axis=1)
        outs = []
        chunk = max(1, 4_000_000 // max(len(C), 1))
        Qall = _quant_np(qpdf["_qv"], quant_scale)
        qids_all = qpdf["_qid"].to_numpy(np.int64)
        for s in range(0, len(Qall), chunk):
            Q, qids = Qall[s : s + chunk], qids_all[s : s + chunk]
            q2 = (Q * Q).sum(axis=1)
            d2 = q2[:, None] + c2[None, :] - 2.0 * (Q @ C.T)  # exact int in f64
            d2[qids[:, None] == cids[None, :]] = np.inf  # self-match out
            # keep EVERYTHING within the kth-smallest distance per row —
            # boundary ties included, so the final (qd2, neighbor_id)
            # window sees every candidate it might rank into the top-k
            kk = min(k, d2.shape[1]) - 1
            thresh = np.partition(d2, kk, axis=1)[:, kk]
            ri, ci = np.nonzero(d2 <= thresh[:, None])
            vals = d2[ri, ci]
            fin = np.isfinite(vals)
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": qids[ri[fin]],
                        "neighbor_id": cids[ci[fin]],
                        "qd2": vals[fin].astype(np.int64),
                    }
                )
            )
        return pd.concat(outs) if outs else empty

    partials = (
        q.groupBy("_qb", "_cb")
        .cogroup(c.groupBy("_qb", "_cb"))
        .applyInPandas(kern, schema="query_id long, neighbor_id long, qd2 long")
    )
    w = Window.partitionBy("query_id").orderBy("qd2", "neighbor_id")
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "qd2")
    )


#: affine-hash stream index for the IVF centroid-seeding sample
#: (distinct from corpus.stratified_sample's default stream 97)
_CENTROID_STREAM = 31


def seed_centroid_rows(
    emb: DataFrame, n_centroids: int, id_col: str = "vec_id"
) -> DataFrame:
    """The `n_centroids` smallest-id rows of a deterministic
    hash-threshold sample of `emb` — IVF's default centroid seed.

    The affine-hash prefilter (stream 31, ~8x oversample of
    n_centroids) runs as a plain scan filter, so the TakeOrdered that
    follows only merges the tiny sampled set — the corpus is never
    globally sorted or full-corpus top-n'd (round-4 VERDICT; pinned by
    test_plan_shapes).  Integer-closed-form: the DuckDB ann_ivf oracle
    replays the identical rule bit-exactly.
    """
    from ..functions.texthash import P, affine_sql

    n = count_rows(emb)  # footers when they answer, else one count()
    rate = min(1_000_000, (8_000_000 * int(n_centroids)) // max(n, 1) + 1)
    h = f"({affine_sql(f'({id_col} % {P})', _CENTROID_STREAM)} % 1000000)"
    return emb.where(F.expr(h) < rate).orderBy(id_col).limit(n_centroids)


def _quant_col(vec_col: str, quant_scale: int):
    return F.transform(
        F.col(vec_col),
        lambda e: F.floor(e.cast("double") * F.lit(float(quant_scale))).cast("long"),
    )


def ivf_candidates(
    emb: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 1024,
    queries: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer -> (query_id, neighbor_id) candidate pairs.

    Corpus vectors are assigned to their single nearest centroid
    (exact integer L2 on floor(x*scale) quantized vectors, ties to the
    smallest centroid id) — the inverted lists, physically a DataFrame
    partitioned by cent_id.  Queries probe their `n_probe` nearest
    centroids; candidates are the inverted-list members of the probed
    cells, produced by one equi-join on cent_id.  Everything is JVM
    column expressions (zip_with/aggregate for the distances), nothing
    collects to the driver, and the assignment is deterministic — a
    bit-exact ANSI-SQL twin exists (the `ann_ivf` oracle).

    centroids: pluggable (cent_id, vector) frame, e.g. sampled+k-means
    offline.  Default: a deterministic hash-threshold sample — keep
    ids whose universal affine hash (functions/texthash.py, the
    stratified_sample trick) lands under an ~8x-oversampled rate, then
    the `n_centroids` smallest ids among the survivors.  One catalog
    row count + one filtered scan: the corpus is never globally sorted
    or top-n'd (round-4 VERDICT — the previous smallest-id rule ran a
    full-corpus TakeOrdered whose single-partition merge is
    partitions x n_centroids rows at 10^12 scale); the final
    TakeOrdered sees only the tiny sampled set.  The whole rule is
    integer-closed-form, so the DuckDB oracle replays it bit-exactly.
    With n_probe == n_centroids the candidate set is complete and the
    downstream re-rank is exact (pinned by test_ann_ivf_full_probe).
    """
    quant = _quant_col(vec_col, quant_scale)
    if centroids is None:
        cents = seed_centroid_rows(emb, n_centroids, id_col).select(
            F.col(id_col).alias("cent_id"), quant.alias("_ctv")
        )
    else:
        cents = centroids.select(
            F.col("cent_id"), _quant_col("vector", quant_scale).alias("_ctv")
        )
    cents = F.broadcast(cents)
    d2c = F.expr(
        "aggregate(zip_with(_v, _ctv, (a, b) -> (a - b) * (a - b)), "
        "0L, (s, x) -> s + x)"
    )

    def assign(side: DataFrame, out_id: str, keep: int) -> DataFrame:
        w = Window.partitionBy(out_id).orderBy("_d2c", "cent_id")
        return (
            side.crossJoin(cents)
            .select(out_id, "cent_id", d2c.alias("_d2c"))
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= keep)
            .select(out_id, "cent_id")
        )

    corpus = emb.select(F.col(id_col).alias("neighbor_id"), quant.alias("_v"))
    inv = assign(corpus, "neighbor_id", 1)
    qsrc = (queries if queries is not None else emb).select(
        F.col(id_col).alias("query_id"), quant.alias("_v")
    )
    probes = assign(qsrc, "query_id", n_probe)
    return (
        probes.join(inv, "cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def ann_ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 1024,
    queries: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-ANN top-k: coarse-quantizer candidates + exact integer-L2
    re-rank (ann_l2_topk's candidates= route).  The corpus-scale path
    when LSH banding is a poor fit (dense clustered embeddings):
    recall is governed by n_probe/n_centroids, compute by the probed
    inverted-list sizes — never O(n^2)."""
    cands = ivf_candidates(
        emb, n_centroids, n_probe, id_col, vec_col, quant_scale, queries, centroids
    )
    return ann_l2_topk(
        emb, k=k, id_col=id_col, vec_col=vec_col, quant_scale=quant_scale,
        queries=queries, candidates=cands, candidates_distinct=True,
    )


def ann_cosine_topk(
    emb: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 1024,
) -> DataFrame:
    """Cosine top-k of a broadcast query set vs the streamed corpus.

    queries_pdf: pandas (id, vector) — an explicitly SMALL query set
    (it ships in the UDF closure; the corpus is never collected).

    Numerics: vectors quantize to floor(x*scale) int64; dot and both
    squared norms are exact integers (f64 matmul integer-exact), and
    sim_1e6 = floor((dot / sqrt(na2*nb2)) * 1e6) is a fixed sequence of
    correctly-rounded IEEE ops — any engine evaluating the same tree
    (the DuckDB oracle) reproduces it bit-for-bit.  Zero-norm vectors
    define sim_1e6 = 0.  Per-batch top-k keeps kth-value ties so the
    final (desc sim, neighbor_id) window is globally exact.
    -> (query_id, neighbor_id, rank, sim_1e6)
    """
    Q = np.floor(
        np.stack(queries_pdf[vec_col].to_numpy()).astype(np.float64) * quant_scale
    )
    qids = queries_pdf[id_col].to_numpy(np.int64)
    q2 = (Q * Q).sum(axis=1)

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _quant_np(pdf[vec_col], quant_scale)
            nids = pdf[id_col].to_numpy(np.int64)
            x2 = (X * X).sum(axis=1)
            dot = Q @ X.T  # exact integers in f64
            n2 = q2[:, None] * x2[None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = np.floor((dot / np.sqrt(n2)) * 1e6)
            sims[n2 == 0] = 0.0
            # mask self-matches BEFORE top-k so they don't eat a slot
            sims[qids[:, None] == nids[None, :]] = -np.inf
            kk = min(k, sims.shape[1]) - 1
            thresh = -np.partition(-sims, kk, axis=1)[:, kk]
            ri, ci = np.nonzero(sims >= thresh[:, None])
            vals = sims[ri, ci]
            fin = np.isfinite(vals)
            yield pd.DataFrame(
                {
                    "query_id": qids[ri[fin]],
                    "neighbor_id": nids[ci[fin]],
                    "sim_1e6": vals[fin].astype(np.int64),
                }
            )

    partials = emb.select(id_col, vec_col).mapInPandas(
        op, schema="query_id long, neighbor_id long, sim_1e6 long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_1e6"), F.col("neighbor_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim_1e6")
    )


def cosine_dedup_pairs(
    emb: DataFrame,
    min_sim_1e6: int = 950_000,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    quant_scale: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH candidates +
    EXACT integer-quantized cosine re-rank inside the candidate set —
    the composed scale path (candidates bounded by band collisions, the
    O(n^2) work never materializes) with exact output semantics on the
    candidates.  -> (doc_a, doc_b, sim_1e6) with sim >= min_sim_1e6.

    sim_1e6 uses the same deterministic formula as ann_cosine_topk
    (exact int dot/norms + one fixed correctly-rounded f64 tree), so
    the DuckDB oracle matches bit-for-bit.
    """
    cand = lsh_cosine_pairs(
        emb, n_planes=n_planes, bands=bands, seed=seed,
        id_col=id_col, vec_col=vec_col, dim=dim, quant_scale=quant_scale,
    )
    q = F.transform(
        F.col(vec_col),
        lambda e: F.floor(e.cast("double") * F.lit(float(quant_scale))).cast("long"),
    )
    qe = emb.select(F.col(id_col).alias("_id"), q.alias("_q"))
    dot = F.expr(
        "aggregate(zip_with(_qa, _qb, (a, b) -> a * b), 0L, (s, x) -> s + x)"
    )
    n2 = lambda c: F.expr(  # noqa: E731
        f"aggregate(transform({c}, v -> v * v), 0L, (s, x) -> s + x)"
    )
    j = (
        cand.join(qe.select(F.col("_id").alias("doc_a"), F.col("_q").alias("_qa")), "doc_a")
        .join(qe.select(F.col("_id").alias("doc_b"), F.col("_q").alias("_qb")), "doc_b")
        .withColumn("_dot", dot)
        .withColumn("_na2", n2("_qa"))
        .withColumn("_nb2", n2("_qb"))
    )
    sim = F.when(F.col("_na2") * F.col("_nb2") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (F.col("_dot").cast("double")
             / F.sqrt((F.col("_na2") * F.col("_nb2")).cast("double")))
            * F.lit(1e6)
        ).cast("long")
    )
    return (
        j.withColumn("sim_1e6", sim)
        .where(F.col("sim_1e6") >= min_sim_1e6)
        .select("doc_a", "doc_b", "sim_1e6")
    )


def lsh_planes(n_planes: int, bands: int, dim: int, seed: int) -> np.ndarray:
    """(bands, n_planes, dim) deterministic integer hyperplane weights
    in [-2^19, 2^19), splitmix64-derived — inlineable as SQL literals."""
    idx = np.arange(bands * n_planes * dim, dtype=np.uint64)
    raw = splitmix64(idx + np.uint64(seed) * np.uint64(0x9E3779B9))
    w = (raw % np.uint64(1 << 20)).astype(np.int64) - (1 << 19)
    return w.reshape(bands, n_planes, dim)


def lsh_cosine_pairs(
    emb: DataFrame,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    quant_scale: int = 1024,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded random-hyperplane LSH -> candidate pairs (doc_a, doc_b).

    `bands` independent signatures of `n_planes` sign bits each; two
    vectors are candidates if they share ANY band key — the same
    banding shape as minhash_lsh_pairs, so no single small signature
    space goes quadratic at scale (a popular bucket is bounded by one
    band's collisions, and recall grows with bands).

    Signs are exact: integer planes (lsh_planes) against
    integer-quantized vectors, dot > 0 in int64 — which is what lets
    the DuckDB oracle reproduce buckets bit-for-bit.  `dim` may be
    omitted (inferred per batch; planes are deterministic either way).
    """

    def op(batches):
        P = None if dim is None else lsh_planes(n_planes, bands, dim, seed)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _quant_np(pdf[vec_col], quant_scale)
            if P is None:
                P = lsh_planes(n_planes, bands, X.shape[1], seed)
            out_v, out_b, out_k = [], [], []
            vids = pdf[id_col].to_numpy(np.int64)
            for b in range(bands):
                bits = (X @ P[b].T) > 0  # (n, planes), exact in f64
                key = np.zeros(len(X), dtype=np.int64)
                for p in range(n_planes):
                    key |= bits[:, p].astype(np.int64) << p
                out_v.append(vids)
                out_b.append(np.full(len(X), b, dtype=np.int32))
                out_k.append(key)
            yield pd.DataFrame(
                {
                    "vid": np.concatenate(out_v),
                    "band": np.concatenate(out_b),
                    "bucket": np.concatenate(out_k),
                }
            )

    buckets = emb.select(id_col, vec_col).mapInPandas(
        op, schema="vid long, band int, bucket long"
    )
    # one aggregation over the bucket scan (the mapInPandas signature
    # pass executes once, not once per self-join side).  max_bucket
    # (None -> bucket_pairs' MAX_BUCKET_DEFAULT) bounds a degenerate
    # sign-pattern bucket (e.g. a zero-vector plateau) to linear work.
    kw = {} if max_bucket is None else {"max_bucket": max_bucket}
    return bucket_pairs(buckets, ["band", "bucket"], "vid", **kw).distinct()
