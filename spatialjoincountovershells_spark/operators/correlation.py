"""Two-point correlation function (Landy-Szalay estimator) over shells.

The complete astro workflow the reference's count-over-shells kernel
exists to serve (its README motivates the query as correlation-function
pair counting): xi(r) = (DD - 2DR + RR) / RR per radial shell, where
DD/RR are the data/randoms auto-correlation ordered-pair totals
(self-pairs removed) and DR the data x randoms cross totals — each one
a `shell_count` + per-shell sum, i.e. pure compositions of the
engine's primitives.

Numerics contract (mirrors the similarity kernels' rule, CLAUDE.md):
every float step is a fixed correctly-rounded IEEE-f64 tree —
normalization `cnt / (na * nb)`, then `(ddn - 2.0*drn + rrn) / rrn` —
reproduced verbatim in the DuckDB oracle, and the output is quantized
to floor(xi * 2^20) int64 so the contract hash is bit-exact.  Shells
with RR == 0 (the estimator is undefined there) are dropped on both
sides.

Scale shape: three shell_count jobs (the expensive parts, each with the
full plan repertoire) + three nshell-row aggregates + one nshell-row
join.  Reference analog: src/astr_rcount/main.c runs ONE side of this;
the composition is driver-side arithmetic there too.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shells import shell_binner
from ..sources.tableio import count_rows
from .shell_count import shell_count

XI_QUANT = 1 << 20


def pair_totals(
    left: DataFrame,
    right: DataFrame,
    edges: np.ndarray,
    box: float = 1000.0,
    plan: str = "sql",
    dtype: str = "float64",
    id_col: str | None = None,
    subtract_self: int | None = None,
) -> DataFrame:
    """-> (shell_idx, n long): ordered-pair totals per shell; for an
    auto-correlation pass `subtract_self=n_rows` removes the d=0
    self-pairs.  The single enforcement point of the self-pair
    invariant: d=0 bins to shell 0 only when edges[0] > 0."""
    if subtract_self is not None and not float(np.asarray(edges)[0]) > 0.0:
        raise ValueError("self-pair subtraction needs edges[0] > 0")
    h = left.select(F.monotonically_increasing_id().alias("_qid"), "x", "y", "z") \
        if id_col is None else left
    sc = shell_count(
        h, right, edges, box=box, plan=plan, dtype=dtype,
        id_col="_qid" if id_col is None else id_col,
    )
    tot = sc.groupBy("shell_idx").agg(F.sum("cnt").alias("n"))
    if subtract_self is not None:
        tot = tot.select(
            "shell_idx",
            F.when(F.col("shell_idx") == 0, F.col("n") - F.lit(subtract_self))
            .otherwise(F.col("n")).alias("n"),
        )
    return tot


def landy_szalay_xi(
    data: DataFrame,
    randoms: DataFrame,
    edges: np.ndarray,
    box: float = 1000.0,
    plan: str = "sql",
    dtype: str = "float64",
    id_col: str | None = None,
    n_data: int | None = None,
    n_randoms: int | None = None,
) -> DataFrame:
    """-> (shell_idx int, dd long, dr long, rr long, xi_q long).

    `data`/`randoms` need (x, y, z) columns (+ `id_col` if given; else
    a synthetic id is attached for the probe side).  `n_data` /
    `n_randoms` are the row counts when the caller tracks table stats;
    a missing one is ``sources.tableio.count_rows``'s exact count: the
    parquet footers, with no Spark job, for an unfiltered parquet scan,
    else a count() job.  xi_q = floor(xi * 2^20); rows with rr == 0 are
    dropped (estimator undefined).

    dtype defaults to "float64" — unlike shell_count's f32 default —
    because this module's oracle contract is the exact f64 tree; the
    kernel plans (fused/bcast/dgrid) honor it via their numpy dtype,
    and f32 there would bin edge-adjacent pairs differently than the
    f64 oracle.
    """
    edges = np.asarray(edges)
    nd = n_data if n_data is not None else count_rows(data)
    nr = n_randoms if n_randoms is not None else count_rows(randoms)
    # edges[0] > 0 is enforced by pair_totals (subtract_self invariant)
    dd = pair_totals(data, data, edges, box, plan, dtype, id_col, nd) \
        .withColumnRenamed("n", "dd")
    dr = pair_totals(data, randoms, edges, box, plan, dtype, id_col, None) \
        .withColumnRenamed("n", "dr")
    rr = pair_totals(randoms, randoms, edges, box, plan, dtype, id_col, nr) \
        .withColumnRenamed("n", "rr")
    j = (
        dd.join(dr, "shell_idx", "full")
        .join(rr, "shell_idx", "full")
        .na.fill(0, ["dd", "dr", "rr"])
        .where(F.col("rr") > 0)
    )
    # fixed IEEE-f64 tree, mirrored verbatim in the oracle SQL
    ddn = F.col("dd").cast("double") / F.lit(float(nd) * (nd - 1))
    drn = F.col("dr").cast("double") / F.lit(float(nd) * nr)
    rrn = F.col("rr").cast("double") / F.lit(float(nr) * (nr - 1))
    xi = (ddn - F.lit(2.0) * drn + rrn) / rrn
    return j.select(
        "shell_idx", "dd", "dr", "rr",
        F.floor(xi * F.lit(float(XI_QUANT))).cast("long").alias("xi_q"),
    )


def ripley_k(
    points: DataFrame,
    edges: np.ndarray,
    box: float = 1000.0,
    plan: str = "sql",
    dtype: str = "float64",
    id_col: str | None = None,
    n: int | None = None,
    other: DataFrame | None = None,
    n_other: int | None = None,
) -> DataFrame:
    """Ripley's K function at each shell edge — the cumulative twin of
    the auto-correlation shell counts (K is THE standard second-order
    point-pattern statistic the reference's count-over-shells kernel
    feeds; edge-uncorrected / border-ignored estimator):

        K(r_k) = V * cum_k / (n * (n - 1)),
        cum_k  = # ordered pairs with d < edges[k]  (self-pairs removed)

    With `other` given this is the CROSS-type K (the bivariate
    K_ab(r) of marked point-pattern analysis — clustering of type-b
    points around type-a points): cum counts (a, b) pairs with no
    self-pair subtraction and the normalizer is n_a * n_b.

    -> one row per edge: (shell_idx int, cum_pairs long, k_q10 long)
    with k_q10 = floor(K * 2^10).  Empty shells still emit a row (the
    cumulative is defined there), unlike the per-shell pair_totals.

    Numerics contract: cum is an exact int64; the ONE f64 tree
    ((cum * V) / nn) * 1024 is mirrored verbatim in the DuckDB oracle
    (V = box^3 and the normalizer nn are both exactly representable).

    Scale shape: one shell_count (self- or cross-)join job (full plan
    repertoire) + an nshell-row cumulative window — the window's
    single-partition sort is over len(edges) rows, never data."""
    edges = np.asarray(edges)
    spark = points.sparkSession
    nd = n if n is not None else count_rows(points)
    if other is None:
        nn = nd * (nd - 1)
        tot = pair_totals(points, points, edges, box, plan, dtype,
                          id_col, nd)
    else:
        nb = n_other if n_other is not None else count_rows(other)
        nn = nd * nb
        tot = pair_totals(points, other, edges, box, plan, dtype,
                          id_col, None)
    shells = spark.range(len(edges)).select(
        F.col("id").cast("int").alias("shell_idx")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("shell_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        shells.join(tot, "shell_idx", "left")
        .select("shell_idx", F.coalesce(F.col("n"), F.lit(0)).alias("_np"))
        .select("shell_idx", F.sum("_np").over(w).alias("cum_pairs"))
    )
    k_q10 = F.floor(
        (
            (F.col("cum_pairs").cast("double") * F.lit(float(box) ** 3))
            / F.lit(float(nn))
        )
        * F.lit(1024.0)
    )
    return cum.select(
        "shell_idx",
        F.col("cum_pairs").cast("long").alias("cum_pairs"),
        k_q10.cast("long").alias("k_q10"),
    )


def _nn_min(grid, r2k: np.ndarray, _clock=None):
    """Sweep reducer of ``nn_dist_cdf(plan='dgrid')``: each streamed
    probe's minimum in-range d2 — in self mode (the grid carries the
    data ``ids``) with the pairs of the probe's own id excluded — and,
    at each batch's end, the per-shell counts of its probes' minima:
    (shell_idx, _n) partials, at most nshells rows per batch.

    Minima bin on the kernel-dtype edges widened exactly to f64, by
    the same strict-< first-match ``shell_binner`` as shell_count, so
    results are bit-equal to the sql plan's expression tree."""
    r2 = r2k.astype(np.float64)
    bin_ = shell_binner(r2)
    dids = grid.get("ids")
    qids = accmin = None

    def fold(row, gidx, d2):
        d2 = d2.astype(np.float64)
        if dids is not None:
            d2[dids[gidx] == qids[row]] = np.inf
        # rows are sorted within a chunk: per-row segment minima
        b = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
        r = row[b]
        accmin[r] = np.minimum(accmin[r], np.minimum.reduceat(d2, b))

    def emit(ids):
        nonlocal qids, accmin
        cols = None
        if accmin is not None:
            counts = np.bincount(bin_(accmin[accmin < r2[-1]]),
                                 minlength=len(r2))
            nz = np.nonzero(counts)[0]
            cols = [nz.astype(np.int32), counts[nz]]
        qids = ids
        accmin = None if ids is None else np.full(len(ids), np.inf)
        return cols

    return fold, emit


def nn_dist_cdf(
    points: DataFrame,
    edges: np.ndarray,
    box: float = 1000.0,
    dtype: str = "float64",
    id_col: str | None = None,
    ref: DataFrame | None = None,
    n_probe: int | None = None,
    plan: str = "sql",
) -> DataFrame:
    """Nearest-neighbour distance CDF — the G-function of point-pattern
    analysis (and, with `ref` given, the F / empty-space function:
    distance from reference probes to the nearest data point).  The
    third classic second-order statistic alongside K (`ripley_k`),
    evaluated at the same shell edges:

        G(r_k) = #{probes whose 1-NN distance < edges[k]} / n_probe

    Self-mode (`ref=None`) excludes the probe itself via `id_col`
    (REQUIRED then — identity must be explicit, not inferred from
    d == 0, so coincident distinct points still count as neighbours).
    Probes whose nearest neighbour lies beyond edges[-1] are censored
    (standard for the bounded-r estimator): they appear in n_probe but
    never in the counts.

    -> one row per edge: (shell_idx int, n_lt long cumulative probe
    count, g_ppm long = (n_lt * 10^6) integer-DIV n_probe — exact).

    Scale shape, plan="sql": ONE ring-1 cell equi-join at cell size >=
    edges[-1] (ring-1 provably covers every pair within rmax) + a
    per-probe min aggregation on the probe key + an nshell-row
    cumulative window.  plan="dgrid" (use when the DATA side fits the
    broadcast budget, shell_count's dgrid envelope): shell_count's
    sweep operator (``_sweep_join``) broadcasts the data table's CSR
    grid, with ids in self mode, and streams the probes through one
    mapInArrow into the ``_nn_min`` reducer, which emits only
    per-shell partial counts — candidate pairs never leave the task
    and there is no per-probe shuffle at all (~10x the sql plan at the
    contract shape).  No k-widening loop either way: unlike `knn`, the
    search radius is bounded up front, so censoring replaces
    iteration.  Without `n_probe` the probes are counted by
    ``sources.tableio.count_rows`` (exact; no Spark job for an
    unfiltered parquet scan)."""
    from pyspark.sql.window import Window

    from ..functions.shells import shell_index_expr, squared_edges
    from .cells import explode_ring, with_cell
    from .shell_count import _H, _P, _pairs_within, _plan_grid, _sweep_join

    edges = np.asarray(edges)
    if plan not in ("sql", "dgrid"):
        raise ValueError(f"unknown plan {plan!r} (sql | dgrid)")
    rmax = float(edges[-1])
    # both plans run on the ring-1 grid: the dgrid pass on shell_count's
    # r_max/2 grid measured ~30% slower (8x the CSR offsets to build and
    # broadcast for a min; 300k clustered points, r_max 10, 2 CPUs)
    nc, ring_k = _plan_grid("sql", rmax, box)
    self_mode = ref is None
    if self_mode and id_col is None:
        raise ValueError("self-mode (ref=None) requires id_col")
    spark = points.sparkSession
    probe_src = points if self_mode else ref
    if id_col is not None and id_col in probe_src.columns:
        probe = probe_src.select(
            F.col(id_col).alias("_qid"),
            *[F.col(c).alias(a) for c, a in zip(("x", "y", "z"), _H)],
        )
    else:
        probe = probe_src.select(
            F.monotonically_increasing_id().alias("_qid"),
            *[F.col(c).alias(a) for c, a in zip(("x", "y", "z"), _H)],
        )
    np_ = n_probe if n_probe is not None else count_rows(probe)
    if np_ <= 0:
        raise ValueError("empty probe set")
    r2 = squared_edges(edges)
    data_cols = [F.col(c).alias(a) for c, a in zip(("x", "y", "z"), _P)]
    if self_mode:
        p = points.select(F.col(id_col).alias("_did"), *data_cols)
    else:
        p = points.select(*data_cols)
    if plan == "dgrid":
        cnt = _sweep_join(
            (probe, _H, "_qid" if self_mode else None),
            (p, _P, "_did" if self_mode else None, None),
            _nn_min, "shell_idx int, _n long", r2, box, dtype, nc, ring_k,
            spread=True,
        ).groupBy("shell_idx").agg(F.sum("_n").alias("_n"))
    else:
        h = explode_ring(probe, nc, box, cols=_H, k=ring_k, prune_radius=rmax)
        j = h.join(with_cell(p, nc, box, cols=_P), "cell_id")
        if self_mode:
            j = j.where(F.col("_qid") != F.col("_did"))
        m = (
            _pairs_within(j, r2[-1], box, dtype, "_qid")
            .groupBy("_qid")
            .agg(F.min("_d2").alias("_m"))
        )
        cnt = (
            m.selectExpr(f"{shell_index_expr('_m', r2)} AS shell_idx")
            .groupBy("shell_idx")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
    shells = spark.range(len(edges)).select(
        F.col("id").cast("int").alias("shell_idx")
    )
    w = Window.orderBy("shell_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        shells.join(cnt, "shell_idx", "left")
        .select("shell_idx", F.coalesce(F.col("_n"), F.lit(0)).alias("_n"))
        .select("shell_idx", F.sum("_n").over(w).alias("n_lt"))
    )
    return cum.select(
        "shell_idx",
        F.col("n_lt").cast("long").alias("n_lt"),
        F.expr(f"(n_lt * 1000000) DIV {int(np_)}")
        .cast("long")
        .alias("g_ppm"),
    )
