"""Mergeable aggregation sketches with deterministic, oracle-checkable
semantics.

Classic streaming sketches (HLL, theta) rely on engine-specific hashes
and float registers, so no cross-engine gate can check them.  These
variants keep the sketch *property* — bounded per-group state, merge =
set-union-then-shrink, one-pass — while every step is exact int64 on
the shared SQL-derivable hash family (``functions/texthash.py``), so
DuckDB reproduces them bit-for-bit.

* kmv_distinct — K-Minimum-Values distinct-count estimator
  (Bar-Yossef et al. 2002; Beyer et al. 2007 "On synopses for
  distinct-value estimation under multiset operations").
* countmin_sketch / countmin_estimate — Count-Min frequency sketch
  (Cormode & Muthukrishnan 2005): a d x w counter grid + point
  queries that never undercount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrowhash import with_poly_hash_arrow
from ..functions.texthash import P, affine_sql

__all__ = ["kmv_distinct", "kmv_hash_sql", "countmin_sketch",
           "countmin_estimate", "bloom_words", "bloom_might_contain",
           "hist_quantiles"]


def kmv_hash_sql(value: str) -> str:
    """The KMV hash as SQL text valid in BOTH Spark and DuckDB: the
    shared affine stream 0 over the value folded into [0, P)."""
    return affine_sql(f"(((CAST({value} AS BIGINT) % {P}) + {P}) % {P})", 0)


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value: str,
    k: int = 64,
) -> DataFrame:
    """KMV distinct-count sketch per group -> (group_cols..., n_kept
    int, kth_hash long, est_distinct long).

    The sketch keeps the k smallest DISTINCT hash values of `value`
    (a SQL expression) per group; with fewer than k distinct hashes
    the count is exact, otherwise the k-th smallest hash h_k yields
    the unbiased-family estimate

        est = ((k - 1) * P) DIV h_k

    (relative error ~ 1/sqrt(k)).  Hash collisions under-count like
    in any KMV — estimator semantics, deterministic either way.
    Merging two groups' sketches = union the hash sets, re-take the k
    smallest — exactly what the groupBy computes, which is why the
    result is partition- and order-independent.

    Scale shape: the (group, hash) dedup is a partial-aggregated
    groupBy — map-side combine collapses repeats before the shuffle,
    so shuffle volume is per-partition-distinct, not row count; the
    window then ranks within the same hash-partitioning (no second
    shuffle) and everything past rank k is dropped before the final
    tiny agg.  For groups whose DISTINCT cardinality itself is too
    large to shuffle, cap per-partition state first with a
    mapInPandas min-k pass — the merge rule above makes that refine,
    not change, the result.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    h = F.expr(kmv_hash_sql(value))
    dh = (
        df.select(*group_cols, h.alias("_h"))
        .groupBy(*group_cols, "_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    ranked = dh.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.max("_h").alias("kth_hash"),
    )
    # (k-1)*P precomputed: as a SQL literal int*int would overflow int32
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("long")
    ).otherwise(F.expr(f"{(k - 1) * P} DIV kth_hash"))
    return agg.select(*group_cols, "n_kept", "kth_hash",
                      est.alias("est_distinct"))


def countmin_sketch(
    values: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a stream of
    string values -> the full counter grid (row int, bucket long, cnt
    long), at most d*w rows regardless of input size.

    Row i's bucket for value v is h_i(base(v)) % w on the shared
    poly+affine hash family, so the sketch is identical in DuckDB.
    Counters are plain sums — the sketch merges by adding grids, and
    the groupBy's map-side combine means shuffle volume is bounded by
    d*w per partition, the textbook bounded-state shape.

    The base hash is computed once per row in a vectorized Arrow pass
    (functions/arrowhash.py); the d streams are affine codegen exprs
    over that one column.
    """
    values = with_poly_hash_arrow(values, value_col)
    rows = [
        F.struct(
            F.lit(i).alias("row"),
            F.expr(f"{affine_sql('_base', i)} % {w}").alias("bucket"),
        )
        for i in range(d)
    ]
    return (
        values.select(F.explode(F.array(*rows)).alias("_rb"))
        .select("_rb.row", "_rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    query_col: str = "term",
    d: int = 4,
    w: int = 512,
) -> DataFrame:
    """Point-query the Count-Min grid -> (query_col, est_count long).

    est = min over rows i of counter[i, h_i(q) % w]; counters the
    query never incremented read 0 (missing grid cells coalesce).
    Guarantees est >= true count, with overshoot ~ n/w per row whp —
    pinned by test_countmin_never_undercounts.

    Scale shape: the sketch is <= d*w rows — broadcast; queries flow
    through one broadcast join per hash row and a per-query min agg.
    """
    queries = with_poly_hash_arrow(queries, query_col)
    rows = [
        F.struct(
            F.lit(i).alias("row"),
            F.expr(f"{affine_sql('_base', i)} % {w}").alias("bucket"),
        )
        for i in range(d)
    ]
    probes = queries.select(
        F.col(query_col), F.explode(F.array(*rows)).alias("_rb")
    ).select(query_col, "_rb.row", "_rb.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(query_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0).cast("long"))).alias("est_count"))
    )


def _bloom_masks(df: DataFrame, value: str, m_words: int, k: int, stream0: int):
    """(frame, masks): the k (word_idx, mask) structs of ``value`` for
    the Bloom grid.  A string column gets the texthash base hash
    appended as ``_base`` (one Arrow pass); any other column folds into
    [0, P) by a CAST expression."""
    if dict(df.dtypes).get(value) == "string":
        df, base = with_poly_hash_arrow(df, value), "_base"
    else:
        base = f"(((CAST({value} AS BIGINT) % {P}) + {P}) % {P})"
    nbits = 63 * m_words
    masks = [
        F.struct(
            F.expr(f"CAST(({affine_sql(base, stream0 + i)} % {nbits}) DIV 63 AS INT)")
            .alias("word_idx"),
            F.expr(
                f"shiftleft(1L, CAST(({affine_sql(base, stream0 + i)} % {nbits}) % 63 AS INT))"
            ).alias("mask"),
        )
        for i in range(k)
    ]
    return df, masks


def bloom_words(
    df: DataFrame,
    group_cols: list[str],
    value: str,
    m_words: int = 8,
    k: int = 4,
    stream0: int = 64,
) -> DataFrame:
    """Bloom filter per group (Bloom 1970), materialized as its int64
    words -> (group_cols..., word_idx int, word long), at most m_words
    rows per group regardless of input size — the join-pruning /
    membership sketch (build once over the big side's keys, broadcast,
    drop probe rows whose k bits aren't all set before the real join).

    Hash i (i < k) of value v sets bit h_{stream0+i}(base(v)) % (63 *
    m_words); bit b lives in word b DIV 63 at position b % 63 — 63
    usable bits per word because DuckDB's `<<` range-checks 1 << 63,
    and one dead bit costs ~1.6% capacity.  Zero words are emitted (a
    fixed m_words rows per group), so merging sketches is a plain
    groupBy bit_or and the oracle's row set is deterministic.

    Scale shape: one codegen projection fans each row to its <= k
    distinct (group, word_idx, mask) rows; the groupBy bit_or is
    map-side combined, so shuffle volume is bounded by m_words per
    (partition, group) — bounded-state, order-independent, mergeable.

    String values hash through one vectorized Arrow pass (see
    countmin_sketch); numeric values fold by a plain CAST.  The
    per-group grid is built from the unhashed frame, so the hash pass
    runs once.
    """
    hashed, masks = _bloom_masks(df, value, m_words, k, stream0)
    set_bits = (
        hashed.select(*group_cols, F.explode(F.array(*masks)).alias("_wm"))
        .select(*group_cols, "_wm.word_idx", "_wm.mask")
        .groupBy(*group_cols, "word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )
    # emit the full m_words grid per group so the sketch shape (and
    # the oracle's row set) is input-independent
    grid = (
        df.select(*group_cols)
        .distinct()
        .crossJoin(
            df.sparkSession.range(m_words).select(
                F.col("id").cast("int").alias("word_idx")
            )
        )
    )
    return grid.join(set_bits, [*group_cols, "word_idx"], "left").select(
        *group_cols,
        "word_idx",
        F.coalesce("word", F.lit(0).cast("long")).alias("word"),
    )


def bloom_might_contain(
    sketch: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    value: str,
    m_words: int = 8,
    k: int = 4,
    stream0: int = 64,
) -> DataFrame:
    """Membership test against ``bloom_words`` grids -> probe rows +
    (hit int): 1 iff ALL k bits are set in the group's filter (maybe
    present — false positives possible, never false negatives: pinned
    by test_bloom_never_false_negative).

    Scale shape: the sketch is m_words rows per group — broadcast;
    probes fan to their <= k word lookups, one broadcast join, one
    per-probe min agg.  This is exactly the runtime-filter shape
    engines build for join pruning (probe rows failing `hit` skip the
    expensive join).
    """
    probes, masks = _bloom_masks(probes, value, m_words, k, stream0)
    want = probes.select(
        *group_cols, F.col(value), F.explode(F.array(*masks)).alias("_wm")
    ).select(*group_cols, value, "_wm.word_idx", "_wm.mask")
    joined = want.join(F.broadcast(sketch), [*group_cols, "word_idx"], "left")
    ok = F.when(
        (F.coalesce("word", F.lit(0)).bitwiseAND(F.col("mask"))) == F.col("mask"), 1
    ).otherwise(0)
    return (
        joined.select(*group_cols, value, ok.alias("_ok"))
        .groupBy(*group_cols, value)
        .agg(F.min("_ok").cast("int").alias("hit"))
    )


def hist_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs_ppm: tuple[int, ...] = (500000, 950000, 990000),
    scale: int = 8,
    n_bins: int = 512,
) -> DataFrame:
    """Mergeable-histogram quantiles per group -> one row per (group,
    quantile): (group_cols..., q_ppm long, bin long, n_le long,
    n_total long) — the P50/P95/P99 query of a metrics pipeline, in
    the fixed-bin-histogram form that actually scales (the exact
    per-group sort does not; t-digest/KLL are float-register sketches
    no cross-engine gate can check).

    Binning CONTRACT: bin = clamp(floor(value * scale), 0, n_bins-1)
    (one correctly-rounded f64 multiply — identical IEEE result in
    every engine); NULL values are dropped.  The reported quantile is
    the smallest bin whose cumulative count reaches ceil(q * n) =
    (q_ppm * n_total + 999999) DIV 1000000 — i.e. the bin holding the
    lower empirical quantile; n_le is the cumulative count through
    that bin.  Groups never disappear: every group emits one row per
    requested quantile.

    Scale shape: the histogram is a map-side-combined groupBy bounded
    by n_bins rows per (partition, group) — histograms merge by adding
    counts, so this is one bounded shuffle however large the input;
    the window + quantile selection then run on the n_bins-sized
    aggregate, never the raw data.
    """
    b = F.least(
        F.greatest(F.floor(F.col(value_col) * float(scale)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("long")
    hist = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    wo = Window.partitionBy(*group_cols).orderBy("bin")
    wall = Window.partitionBy(*group_cols)
    cum = (
        hist.withColumn("_cum", F.sum("_cnt").over(wo))
        .withColumn("_tot", F.sum("_cnt").over(wall))
    )
    qcol = F.explode(
        F.array([F.lit(int(q)).cast("long") for q in qs_ppm])
    ).alias("q_ppm")
    x = cum.select(*group_cols, "bin", "_cnt", "_cum", "_tot", qcol)
    kq = F.expr("(q_ppm * _tot + 999999) DIV 1000000")
    return (
        x.where((F.col("_cum") >= kq) & (F.col("_cum") - F.col("_cnt") < kq))
        .select(
            *group_cols,
            "q_ppm",
            F.col("bin"),
            F.col("_cum").alias("n_le"),
            F.col("_tot").alias("n_total"),
        )
    )
