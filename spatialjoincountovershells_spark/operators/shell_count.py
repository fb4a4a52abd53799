"""Count-over-shells distance-band spatial join — the engine's core query.

Reference semantics (SURVEY §2.3 J1/J2, §2.4 A1, §2.11):
* for every halo, count particles in each concentric shell
  [r_{i-1}, r_i) around it, strict-``<`` first-match binning on
  ascending pre-squared float32 edges
  (``src/objects/ArraySTR/MultiRangeCount.c:85-115``);
* periodic boundary on the cube [0, box)^3
  (``MultiRangeCount.c:13-73``), valid while r_max < box/2;
* zero-distance pairs ARE counted (STR semantics, SURVEY §2.11.4).

Four physical plans share one uniform periodic cell grid.  Its size
and ring depth come from one rule, ``_plan_grid``, which also enforces
r_max < box/2: explicit ``ncells`` wins, else cells of r_max/2 for the
sweep plans ('dgrid', 'bcast', 'fused') and the finest
occupancy-capped ring-1 grid for 'sql'.  The same rule sizes the
coarse blocks 'fused' cogroups on.

The shuffle plans ('sql', 'fused') explode the probe side over its
ring of a join grid and equi-join it with the cell-assigned particles:

  halos --cell+ring explode--> (cell_id, halo_id, hx, hy, hz)   [~10x rows]
  particles --cell assign----> (cell_id, px, py, pz)            [1x rows]
  equi-join on cell_id  ==  the reference's MBR-overlap pruning

* plan="sql": JVM-only, on the fine ring-1 grid — distance + binning
  as column expressions inside whole-stage codegen, then
  groupBy(halo_id, shell).count().  Catalyst/AQE picks broadcast vs
  sort-merge; at cluster scale, pre-bucketing the particle table by
  cell_id makes the big side shuffle-free (see plans/pipeline.py).
* plan="fused": the join grid is a few dozen coarse blocks (about
  one copy per halo at small r_max), cogrouped on the block id; each
  group runs the ring sweep below over its own particles and emits
  per-(halo, shell) partial counts — candidate pairs never
  materialize in the shuffle (the analog of the reference's in-place
  ``counts[i]++`` fusion, ``MultiRangeCount.c:110``).

Every plan but 'sql' runs one numpy ring sweep (``_make_sweep``): one
side is CSR-sorted by cell key into a grid and the other streams past
it.

* plan="dgrid": the particle (data) grid is broadcast and halos
  stream — the reference's own architecture; no shuffle, no
  aggregation.
* plan="bcast": the halo grid is broadcast and particles stream — the
  big table is never shuffled; a small final aggregation.
* plan="fused": one particle grid per block, built inside its
  cogroup group; nothing is broadcast.

Output: long-form (halo_id, shell_idx, cnt), nonzero rows only — the
dense (nhalos x nshells) matrix of the reference is a presentation
concern (see sources/report.py).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import squared_distance_expr, squared_distance_sql
from ..functions.shells import shell_index_expr, squared_edges
from ..functions.sqltext import dlit, ident
from .cells import explode_ring, grid_ncells, ring_offsets, with_cell  # noqa: F401

_H = ("_hx", "_hy", "_hz")
_P = ("_px", "_py", "_pz")


def apply_salting(
    h: DataFrame,
    p: DataFrame,
    salt_threshold: int,
    max_salt: int = 64,
    key: str = "cell_id",
) -> tuple[DataFrame, DataFrame, str]:
    """Split dense cells across sub-keys so no single reducer owns a hot cell.

    Explicit skew handling (BASELINE north_star) on top of AQE's runtime
    skew-join:  a cheap pre-pass counts particles per cell; cells above
    `salt_threshold` get factor = ceil(n/threshold) (capped) sub-keys.
    Particles pick a deterministic sub-key by xxhash64 of their coords;
    halo-ring rows fan out to ALL sub-keys of a hot cell (sequence +
    explode), so the join result is unchanged while the hot cell's work
    spreads over `factor` tasks.  Cold cells pay nothing (factor 1, no
    fanout).  Returns (salted_h, salted_p, new_key).

    Sizing: the broadcast hot-cell list is tiny (cells above threshold
    only); the halo fanout multiplies only ring rows that touch hot
    cells — bounded by 27 * max_salt per halo in the worst case.
    """
    hot = (
        p.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > salt_threshold)
        .select(
            key,
            F.least(
                F.ceil(F.col("_n") / F.lit(salt_threshold)), F.lit(max_salt)
            ).cast("int").alias("_factor"),
        )
    )
    skey = "_salted_cell_id"
    p2 = (
        p.join(F.broadcast(hot), key, "left")
        .withColumn("_factor", F.coalesce(F.col("_factor"), F.lit(1)))
        .withColumn(
            skey,
            F.col(key) * F.lit(max_salt)
            + F.pmod(F.xxhash64(*[F.col(c) for c in _P]), F.col("_factor")),
        )
        .drop("_factor")
    )
    h2 = (
        h.join(F.broadcast(hot), key, "left")
        .withColumn("_factor", F.coalesce(F.col("_factor"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_factor") - 1)))
        .withColumn(skey, F.col(key) * F.lit(max_salt) + F.col("_salt"))
        .drop("_factor", "_salt")
    )
    return h2, p2, skey


_PLANS = ("sql", "fused", "bcast", "dgrid")


def _plan_grid(
    plan: str,
    rmax: float,
    box: float,
    n_particles: int | None = None,
    ncells: int | None = None,
    blocks_for: int | None = None,
) -> tuple[int, int]:
    """The one grid rule -> (cells per axis, ring depth k) for `plan`.

    Raises unless r_max < box/2, the precondition of the reference's
    subset-enumerated periodic search (``MultiRangeCount.c:13-73``,
    SURVEY §2.11.5), and on a plan name outside ``_PLANS``.  With
    `blocks_for` (the session's parallelism), the grid is plan
    'fused''s coarse cogroup blocks; otherwise an explicit `ncells`
    wins, else:

    * 'bcast'/'dgrid'/'fused' (the sweep plans): cells of size r_max/2,
      probed ring-2.  Empty cells are free in the CSR layout and the
      ring bookkeeping is a few numpy ops per row inside the kernel,
      so the Euclidean prune's ~2x cut in candidate pairs vs ring-1 is
      nearly free (measured, BENCH/BASELINE.md).
    * 'fused' blocks: at least 3 per axis (the halo explode's prune
      needs 2k+1), never narrower than r_max (a halo's ball touches a
      27-block ring), and no fewer than two groups per core or than
      one per ~1M particles.  Few big groups win because each group
      pays the sweep's fixed cost (~4 ms): at 1.2M x 80k clustered
      (warm ``local[4]``) 27 blocks took 7.9 CPU.s per call (median
      of 3) against 8.4-9.4 at 64 and 125 blocks and 13.4 at 512; at
      300k x 20k 27 and 64 tied.  Only the 3-per-axis floor set the
      count in those runs (4 cores want 8 groups; 1.2M particles want
      2).  The per-core floor (binds from 14 cores) and the ~1M cap
      (binds from 27M particles) are reasoned, untested bounds: keep
      every core busy, and keep one group's arrays well inside one
      Python worker's memory.
    * 'sql' (and every other cell-grid join): the finest ring-1 grid,
      capped at cbrt(n_particles) so sparse data keeps occupancy ~1.
      Sub-r_max cells LOSE for a row-materializing join: each exploded
      ring row costs ~1 us (materialize + shuffle + hash probe)
      against ~0.6 us saved per pruned pair, so cells of r_max/2
      (fanout 20.6 -> 84 rows/probe for a 2x pair cut) ran 32 s ->
      200+ s at the reference shape (round 4, CPU-pinned).

    The ring depth follows the grid: k cells must cover r_max.
    """
    if not rmax < box / 2:
        raise ValueError(f"r_max={rmax} must be < box/2={box / 2}")
    if plan not in _PLANS:
        raise ValueError(f"unknown plan {plan!r}: expected one of "
                         f"{', '.join(_PLANS)} or auto")
    if blocks_for is not None:
        want = max(2 * blocks_for, (n_particles or 0) / 1_000_000)
        nc = min(max(3, math.ceil(want ** (1.0 / 3.0) - 1e-9)),
                 grid_ncells(rmax, box))
    elif ncells:
        nc = ncells
    elif plan in ("bcast", "dgrid", "fused"):
        nc = grid_ncells(rmax / 2, box)
    else:
        nc = grid_ncells(rmax, box, n_hint=n_particles)
    return nc, max(1, math.ceil(rmax / (box / nc) - 1e-9))


def _pairs_within(joined: DataFrame, r2max: float, box: float, dtype: str,
                  *cols: str) -> DataFrame:
    """Candidate pairs (a join carrying `_H` and `_P` coords) ->
    ``(*cols, _d2)`` rows with ``_d2 < r2max``, as SQL text.  The
    min-image squared distance is projected ONCE, so shell binning
    reads the column instead of re-evaluating the expression per CASE
    branch (which also blows codegen limits at 40 shells)."""
    d2 = squared_distance_sql(_H, _P, box, dtype)
    return joined.selectExpr(*map(ident, cols), f"{d2} AS _d2").where(
        f"_d2 < {dlit(r2max)}")


def _prep(
    halos: DataFrame,
    particles: DataFrame,
    edges: np.ndarray,
    box: float,
    id_col: str,
    h_coords: tuple[str, str, str],
    p_coords: tuple[str, str, str],
    ncells: int | None,
    extra_p: Iterable[str] = (),
    n_hint: int | None = None,
):
    """Ring-explode the halos and cell-assign the particles on the sql
    grid (``_plan_grid``; an explicit `ncells`, such as plan='fused''s
    blocks, is the grid) -> (h, p, ncells, edges)."""
    edges = np.asarray(edges)
    rmax = float(edges[-1])
    nc, ring_k = _plan_grid("sql", rmax, box, n_hint, ncells)
    h = halos.selectExpr(
        ident(id_col), *[f"{ident(c)} AS {a}" for c, a in zip(h_coords, _H)]
    )
    # per-row Euclidean cell prune: the MBR-overlap analog, drops ring
    # cells no point of which can satisfy the strict d^2 < rmax^2 bound
    h = explode_ring(h, nc, box, cols=_H, k=ring_k, prune_radius=rmax)
    p = particles.selectExpr(
        *[f"{ident(c)} AS {a}" for c, a in zip(p_coords, _P)],
        *[ident(c) for c in extra_p],
    )
    p = with_cell(p, nc, box, cols=_P)
    return h, p, nc, edges


# Per-core cost model, each plan's own work at its own measured rates
# (a single pairs-per-core threshold does not predict the winner).
# sql: the codegen join's candidates on its fine ring-1 grid at ~2.5M
# pairs/s/core plus ~2.3 us per exploded halo-ring row (shuffled +
# hash-probed), fitted CPU-pinned in round 4 at 6M x 600k
# (BENCH/BASELINE.md).  fused: the ring sweep's candidates on the
# r_max/2 grid plus a per-row cost for every row shipped through the
# cogroup (particles + halo block copies), fitted from warm calls at
# 300k x 20k and 1.2M x 80k clustered (r_max 10, 40 shells, local[4]
# on 4 vCPUs; 2.28M / 36.8M candidate pairs, 321k / 1.28M rows; medians
# of 9 calls each): Python-worker CPU.s rose 0.94 -> 3.85 with the
# pairs and JVM CPU.s 5.32 -> 7.98 with the rows.
R_SQL_PAIRS_PER_CORE_SEC = 2.5e6
A_SQL_SEC_PER_ROW = 2.3e-6
R_FUSED_PAIRS_PER_CORE_SEC = 1.2e7
A_FUSED_SEC_PER_ROW = 2.8e-6
# fused's fixed cost per call (job and cogroup set-up, Python-worker
# dispatch, Arrow init): the warm calls above leave ~5.1 CPU.s at both
# shapes that neither rate explains, and a cold session pays the
# worker pool spin-up on top.  Keeps small jobs on the pure-JVM sql.
F_FUSED_FIXED_CORE_SEC = 5.0


def choose_plan(
    n_halos: int,
    n_particles: int,
    rmax: float,
    box: float = 1000.0,
    ncells: int | None = None,
    max_broadcast_bytes: int = 512 << 20,
    weighted: bool = False,
) -> str:
    """Pick the physical plan for shell_count.

    'dgrid' whenever the DATA (particle) side fits the broadcast
    budget (~28 B/particle CSR payload + 4 B/cell dense offsets): the
    reference's own architecture — in-memory data grid, streamed
    probes — with no shuffle AND no aggregation; fastest in every
    CPU-pinned measurement at in-memory data scales
    (BENCH/BASELINE.md).

    Else 'bcast' whenever the probe (halo) side fits the budget
    (real payload: 3 coords + id + sorted key ≈ 40 B/halo, plus the
    dense CSR offsets array of ~4 B/cell; 512 MB covers ~12M probes —
    reference scale is 10M): the only plan that never shuffles the
    big table — at 100 TB (where the data side can't possibly fit)
    that dominates everything else.

    Otherwise 'fused' vs 'sql' by estimated per-plan core-time, each
    plan priced as it runs (``_plan_grid``): sql's candidate pairs on
    its finest occupancy-capped ring-1 grid plus its exploded ring
    rows; fused's candidate pairs on the sweep's r_max/2 grid plus the
    rows its cogroup ships (particles + halo block copies, at the
    fewest blocks — the copy count barely moves with parallelism) plus
    its fixed Python-worker cost.  Ties go to sql (pure JVM).
    """
    from .cells import expected_ring_cells

    nc_bcast, _ = _plan_grid("dgrid", rmax, box, ncells=ncells)
    grid_bytes = min(nc_bcast**3, 16_000_000) * 4
    # a weight adds one int64 per particle to the dgrid payload; the
    # bcast plan stays count-only (its sort-reduce kernel has no
    # weighted twin — see shell_count docstring)
    per_particle = 36 if weighted else 28
    if n_particles * per_particle + grid_bytes <= max_broadcast_bytes:
        return "dgrid"
    if not weighted and n_halos * 40 + grid_bytes <= max_broadcast_bytes:
        return "bcast"

    nc_sql, _ = _plan_grid("sql", rmax, box, n_particles, ncells)
    nc_sweep, _ = _plan_grid("fused", rmax, box, n_particles, ncells)
    n_blocks, _ = _plan_grid("fused", rmax, box, n_particles, blocks_for=1)

    def ring(nc: int) -> float:
        return expected_ring_cells(rmax / (box / nc))  # Euclidean cell prune

    def pairs(nc: int) -> float:
        return n_halos * ring(nc) * n_particles / float(nc**3)

    t_sql = (
        pairs(nc_sql) / R_SQL_PAIRS_PER_CORE_SEC
        + n_halos * ring(nc_sql) * A_SQL_SEC_PER_ROW
    )
    t_fused = (
        pairs(nc_sweep) / R_FUSED_PAIRS_PER_CORE_SEC
        + (n_particles + n_halos * ring(n_blocks)) * A_FUSED_SEC_PER_ROW
        + F_FUSED_FIXED_CORE_SEC
    )
    return "sql" if t_sql <= t_fused else "fused"


def shell_count(
    halos: DataFrame,
    particles: DataFrame,
    edges: np.ndarray,
    box: float = 1000.0,
    dtype: str = "float32",
    id_col: str = "halo_id",
    h_coords: tuple[str, str, str] = ("x", "y", "z"),
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
    plan: str = "sql",
    salt_threshold: int | None = None,
    max_salt: int = 64,
    n_halos_est: int | None = None,
    n_particles_est: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """J1+J2+A1: -> (id_col, shell_idx int, cnt long), nonzero rows only.

    weight_col: optional integer weight column on the particle side —
    the output gains `wsum long` = sum of weights per (halo, shell)
    (mass-weighted radial profiles, the natural generalization of the
    reference's count-only A1).  Supported by 'sql', which aggregates
    arbitrary expressions for free, and by the plans whose sweep grid
    holds the particles, 'dgrid' and 'fused' (the grid carries one
    int64 weight per particle; the kernel bincounts weights alongside
    counts, exact while every partial sum stays under 2^53).  'bcast'
    raises: there the weight lives on the streamed side and its
    sort-reduce kernel ships unit counts only.  `plan='auto'` with a
    weight considers dgrid/sql/fused.  Keep weights integer for
    bit-exact cross-engine sums.

    plan: 'sql' (codegen join), 'fused' (cogroup of coarse blocks),
    'dgrid' (broadcast particle grid), 'bcast' (broadcast halo grid),
    or 'auto' — pick by estimated per-plan cost (choose_plan); any
    other name raises.  'auto' needs row counts: pass n_halos_est /
    n_particles_est (free if the caller tracks table stats, as any
    catalog/Iceberg metadata does) or one count() pre-job per missing
    side runs here — at cluster scale, always pass the estimates.
    'fused' needs the particle count too (its block count is
    occupancy-capped), so without n_particles_est it runs one count()
    pre-job, even with an explicit `ncells`.

    ncells: cells per axis, overriding the plan's grid rule
    (``_plan_grid``, which documents each plan's measured grid; for
    'fused' the sweep grid, not its blocks); the ring depth always
    follows the grid, so any explicit grid is exact.

    salt_threshold: if set, run the dense-cell salting pre-pass
    (apply_salting) on the shuffle plans' join key so no hot one
    serializes one reducer/task.  The threshold counts particles per
    join group: sql's cell, but fused's coarse block (~1/27 of the
    data on 4 cores, ``_plan_grid``), so a threshold sized for cells
    splits every fused block.  A split block sends all its halos to
    each sub-key, and each sub-key pays the sweep's fixed cost: at
    1.2M x 80k clustered (27 blocks of ~44k particles, warm
    ``local[4]``, 3 calls each) fused took 8.4-11.5 CPU.s per call
    unsalted, 14.6-18.3 at threshold 20000 (every block split in 3)
    and 10.3-12.0 at 100000 (no split; the count pre-pass only).
    """
    edges = np.asarray(edges)
    rmax = float(edges[-1])
    n_est = n_particles_est
    if plan == "auto":
        n_est = n_est or particles.count()
        kw = dict(box=box, ncells=ncells, weighted=weight_col is not None)
        # choose_plan's first test (dgrid) reads only the particle
        # side: with no halos it answers 'dgrid' iff that test passes,
        # so the halos are counted only when the choice needs them
        plan = choose_plan(0, n_est, rmax, **kw)
        if plan != "dgrid":
            plan = choose_plan(n_halos_est or halos.count(), n_est, rmax, **kw)
    if weight_col is not None and plan == "bcast":
        raise ValueError(
            "weight_col is not supported by plan='bcast': its sort-"
            "reduce kernel ships unit counts only (the weight lives on "
            "the STREAMED side there, so a weighted twin would have to "
            "materialize per-pair weights — use 'dgrid' when the data "
            "side fits the broadcast budget, else 'sql'/'fused')"
        )
    if plan == "fused":
        n_est = n_est or particles.count()
    # the plan runs on the grid the cost model priced (ADVICE r2)
    nc, ring_k = _plan_grid(plan, rmax, box, n_est, ncells)
    r2 = squared_edges(edges)
    if plan == "dgrid":
        return _dgrid_plan(halos, particles, r2, box, dtype, id_col, nc,
                           h_coords, p_coords, ring_k, weight_col)
    if plan == "bcast":
        # no shuffle at all -> salting is moot
        return _bcast_plan(halos, particles, r2, box, dtype, id_col, nc,
                           h_coords, p_coords, ring_k)
    join_nc = nc
    if plan == "fused":  # joins on coarse blocks, sweeps on the nc grid
        par = halos.sparkSession.sparkContext.defaultParallelism
        join_nc, _ = _plan_grid(plan, rmax, box, n_est, blocks_for=par)
    h, p, _, _ = _prep(
        halos, particles, edges, box, id_col, h_coords, p_coords, join_nc,
        extra_p=(weight_col,) if weight_col else (),
    )
    join_key = "cell_id"
    if salt_threshold is not None:
        h, p, join_key = apply_salting(h, p, salt_threshold, max_salt)
    if plan == "fused":
        return _fused_plan(h, p, r2, box, dtype, id_col, join_key, nc,
                           ring_k, n_est, weight_col)
    wcols = [weight_col] if weight_col else []
    proj = _pairs_within(h.join(p, join_key), r2[-1], box, dtype, id_col, *wcols)
    aggs = [F.expr("count(1) AS cnt")]
    if weight_col:
        aggs.append(F.expr(f"CAST(sum({ident(weight_col)}) AS BIGINT) AS wsum"))
    return (
        proj.selectExpr(ident(id_col),
                        f"{shell_index_expr('_d2', r2)} AS shell_idx",
                        *map(ident, wcols))
        .groupBy(id_col, "shell_idx")
        .agg(*aggs)
    )


def _fused_plan(h, p, r2, box, dtype, id_col, join_key: str, ncells: int,
                ring_k: int, n_particles: int,
                weight_col: str | None = None) -> DataFrame:
    """Coarse-block cogroup on the shared ring sweep.

    `h`/`p` come from ``_prep`` on the block grid: every particle in
    exactly one block, every halo copied to each block its r_max ball
    touches (the Euclidean-pruned ring explode, wrap included).  Each
    cogroup group CSR-indexes its block's particles by their global
    cell key on the sweep grid (`ncells`, ring `ring_k`) and streams
    its halos through ``_make_sweep`` into ``_probe_counts`` — the
    kernel and accumulator of plan='dgrid'.  A pair is found only in
    its particle's block, so the blocks partition the pair set
    exactly; pairs across the box wrap take the sweep's fold path.
    Each group emits partial (halo, shell) counts and one final
    aggregation sums them.  Salting splits a hot block's particles
    over sub-keys, every one of which receives the block's halos.
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    r2k = np.asarray(r2, dtype=np_dtype)
    sweep = _make_sweep(ncells, box, ring_k, r2, np_dtype, n_particles)

    def kern(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame()  # a block holding one side only
        P64 = right[list(_P)].to_numpy(np.float64)
        pc = _cell_index(P64, ncells, box)
        grid = _csr_grid(
            (pc[:, 0] * ncells + pc[:, 1]) * ncells + pc[:, 2], P64.T,
            ncells, np_dtype, n_probes=len(left),
            W=right[weight_col].to_numpy() if weight_col else None)
        return _probe_counts(sweep, grid, left, id_col, r2k)

    schema = f"{ident(id_col)} long, shell_idx int, cnt long" + (
        ", wsum long" if weight_col else ""
    )
    key = ident(join_key)
    psel = [*_P, key] + ([ident(weight_col)] if weight_col else [])
    out = (
        h.selectExpr(ident(id_col), *_H, key).groupBy(join_key)
        .cogroup(p.selectExpr(*psel).groupBy(join_key))
        .applyInPandas(kern, schema=schema)
    )
    aggs = [F.expr("sum(cnt) AS cnt")]
    if weight_col:
        aggs.append(F.expr("sum(wsum) AS wsum"))
    return out.groupBy(id_col, "shell_idx").agg(*aggs)


def _build_grid(
    side: DataFrame,
    coords: tuple[str, str, str],
    id_col: str | None,
    ncells: int,
    box: float,
    np_dtype,
    weight_col: str | None = None,
):
    """Collect one side, CSR-index it by cell key on the driver,
    broadcast.

    The cell key is a codegen'd column expression (with_cell —
    identical f64 floor(x/cs) arithmetic to the kernels', so cell
    assignment is plan-invariant); the collect is an UNORDERED Arrow
    collect and the CSR ordering is a driver-side numpy argsort +
    gather.  A Spark range-partitioned sort before the collect was
    measured SLOWER end-to-end (the sort adds a full shuffle + sampling
    pass and the driver still has to collect every row afterwards;
    argsort+gather of 6M rows is ~0.8s vs ~3s of sort overhead) — and
    the serial work is bounded by the same broadcast budget that gates
    this plan, so it cannot grow past ~16M rows.  Payload layout:
    ``_csr_grid``.  Returns (broadcast, n_rows)."""
    from .cells import with_cell

    cols = ([id_col] if id_col else []) + list(coords)
    if weight_col:
        cols.append(weight_col)
    keyed = with_cell(side.select(*cols), ncells, box, cols=coords)
    tbl = keyed.toArrow()
    payload = _csr_grid(
        np.asarray(tbl.column("cell_id")),
        [np.asarray(tbl.column(c)) for c in coords], ncells, np_dtype,
        ids=np.asarray(tbl.column(id_col)) if id_col else None,
        W=np.asarray(tbl.column(weight_col)) if weight_col else None,
    )
    n = len(payload["Hx"])
    return side.sparkSession.sparkContext.broadcast(payload), n


def _cell_index(xyz64: np.ndarray, nc: int, box: float) -> np.ndarray:
    """(n, 3) float64 coords -> (n, 3) int64 cell indices on the grid
    of nc cells per axis: ``with_cell``'s f64 floor(x / cs), clamped
    to the box the same way, so a row lands in the same cell in the
    kernels as in the SQL cell keys."""
    return np.clip(np.floor(xyz64 / (box / nc)), 0, nc - 1).astype(np.int64)


def _csr_grid(key, xyz, nc: int, np_dtype, ids=None, W=None,
              n_probes: int | None = None) -> dict:
    """Sort rows by cell key into a sweep grid payload: coords Hx/Hy/Hz
    (np_dtype), optional ids/W (int64), and one CSR index — dense
    offsets ``starts`` over the nc^3 grid, else the sorted ``keys``
    (8 B per row) for a searchsorted lookup.  Never both: with dense
    offsets the kernels never touch the keys, and dropping them cuts
    the broadcast ~35%.

    Dense while nc^3 <= 16M and, when the grid serves a known number
    of probe rows (`n_probes`: one fused group's halos), while nc^3 <=
    512 x n_probes.  The offsets cost ~11 ns per cell to build; the
    keys cost ~7 us more per probe row (two searchsorted per z-stripe).
    Driver-only numpy replay on 4 vCPUs, 300k x 20k clustered (seed
    1003), r_max 10, 200^3 cells, CPU.s over 3 alternated runs: bcast's
    20k-halo grid streaming 300k particles, dense 0.94-1.02 vs keys
    2.99-3.11; dgrid's 300k-particle grid streaming 20k halos, dense
    0.43-0.57 vs keys 0.53-0.55; fused's 27 blocks, dense 4.02-4.28 vs
    keys 1.51-1.57 (at 1.2M x 80k one block's ~44k particles and ~3.1k
    halos take 0.16-0.20 s dense vs 0.09-0.12 s keys).  So a broadcast
    grid, which a whole table streams past, keeps dense offsets, and
    a fused block never allocates nc^3 of them."""
    n = len(key)
    # introsort, NOT stable: every kernel output is a per-id integer
    # count, invariant to row order within a cell, and default argsort
    # is ~2.4x faster than the stable radix at 6M keys (profiled)
    order = np.argsort(key)
    payload = {
        a: np.asarray(x).astype(np_dtype, copy=False)[order]
        for a, x in zip(("Hx", "Hy", "Hz"), xyz)
    }
    if ids is not None:
        payload["ids"] = ids.astype(np.int64, copy=False)[order]
    if W is not None:
        payload["W"] = W.astype(np.int64, copy=False)[order]
    if nc**3 <= 16_000_000 and (n_probes is None or nc**3 <= 512 * n_probes):
        counts = np.bincount(key, minlength=nc**3)
        payload["starts"] = np.concatenate(([0], np.cumsum(counts))).astype(
            np.int32 if n < 2**31 else np.int64
        )
    else:
        payload["keys"] = key[order]
    return payload


# pairs per chunk of the sweep's pair phase: its ~10 per-pair
# temporaries then stay a few MB, cache-resident
_SWEEP_CHUNK = 1 << 18


def _make_sweep(nc: int, box: float, ring_k: int, r2: np.ndarray, np_dtype,
                n_grid: int):
    """The broadcast plans' one ring kernel -> ``sweep(grid, P64)``.

    ``grid`` is a ``_build_grid`` payload (the broadcast side, CSR by
    cell key), ``P64`` the streamed rows' (n, 3) float64 coords.
    ``sweep`` yields ``(row, gidx, d2)`` chunks: streamed row (int32,
    non-decreasing within a chunk), grid row and kernel-dtype squared
    distance of every candidate pair with ``d2 < r_max^2``.

    Candidates come from the ring-k cell neighborhood (cells of size
    box/nc, k = ring_k) cut by a per-row Euclidean slab prune: a cell
    is kept iff ``(Gx + Gy) + Gz < r_max^2`` in f64, G the squared gap
    from the row to that cell's slab on each axis.

    * Interior rows (cell >= k from every face; the vast majority,
      needs 2nc >= 5(k+1)) visit (2k+1)^2 z-STRIPES, not (2k+1)^3
      cells: Gz grows with |oz|, so a column's kept cells are one run
      of consecutive cell keys and one CSR range
      ``[starts[key+jlo], starts[key+jhi+1])`` replaces up to 2k+1
      segments (one searchsorted pair on the sorted-``keys`` fallback).
      Their pairs skip the min-image fold: every per-axis separation
      is <= (k+1)*cs < box/2, where ``min(|d|, box-|d|)`` provably
      picks ``|d|``.
    * Boundary rows (and every row on grids too coarse for the fast
      path) take one vectorized pass per ring cell with a modulo wrap,
      and their pairs fold.
    * Segments are laid out row-major, then the pair phase runs in
      ~256k-pair chunks split on segment boundaries: one int32 repeat
      of the row and one of the CSR base per pair, flat ``np.take``
      gathers of three contiguous f32 coord arrays, f32-safe
      (dx2+dy2)+dz2.
    """
    cs = box / nc
    kk = ring_k
    r2max = np.asarray(r2, dtype=np_dtype)[-1]
    rmax2_infl = float(np.asarray(r2, dtype=np.float64)[-1]) * (1.0 + 1e-9)
    # ring-k offsets, mod-dedup'd, folded to -nc/2..nc/2
    raw_offs = np.array(
        [[m if m <= nc // 2 else m - nc for m in o]
         for o in ring_offsets(nc, k=kk)], dtype=np.int64
    )
    if nc > 2 * kk:
        # a whole ring cell is out of range for EVERY row when its min
        # per-axis gap (|o|-1 full cells) already exceeds rmax — e.g.
        # the 8 corner cells at k=3
        omin = np.maximum(np.abs(raw_offs) - 1, 0) * cs
        raw_offs = raw_offs[(omin * omin).sum(axis=1) < rmax2_infl]
    prune_ok = nc >= 2 * kk + 1
    # interior pairs have |d|_axis <= (k+1)*cs <= 2box/5 < box/2 with a
    # wide margin, so the min-image fold can never flip within an ulp
    # of the box/2 boundary
    fastpath_ok = 2 * nc >= 5 * (kk + 1)
    oidx = raw_offs + kk  # raw offset -k..+k -> gap-table column
    key_t = np.int32 if nc**3 < 2**31 - 1 else np.int64
    idx_t = np.int32 if n_grid + _SWEEP_CHUNK < 2**31 - 1 else np.int64
    seg_t = np.int32 if n_grid < 2**31 - 1 else np.int64
    bx = np_dtype(box)
    # z-stripes (interior rows only): per (ox, oy) column, the largest
    # |oz| the offset-level prune keeps — an interval, since the
    # per-offset gap bound grows with |oz|
    span: dict[tuple[int, int], int] = {}
    for ox, oy, oz in raw_offs.tolist():
        span[ox, oy] = max(span.get((ox, oy), 0), abs(oz))
    stripes = [(ox, oy, m, (ox * nc + oy) * nc) for (ox, oy), m in span.items()]

    def gaps(P64, pc):
        # per-(axis, slab) squared gaps, contiguous in n: gap to the
        # slab at offset |o| = within-cell face gap + |o|-1 full cells
        G = np.empty((3, 2 * kk + 1, len(P64)), dtype=np.float64)
        for a in range(3):
            lo_f = pc[:, a].astype(np.float64) * cs
            gm = P64[:, a] - lo_f
            gp = lo_f + cs - P64[:, a]
            G[a, kk] = 0.0
            for j in range(1, kk + 1):
                gmj = gm + (j - 1) * cs
                gpj = gp + (j - 1) * cs
                G[a, kk - j] = gmj * gmj
                G[a, kk + j] = gpj * gpj
        return G

    def sweep(grid, P64):
        X, Y, Z = grid["Hx"], grid["Hy"], grid["Hz"]  # grid-side coords
        starts, keys = grid.get("starts"), grid.get("keys")

        def lookup(klo, khi):
            # CSR range of cell keys klo..khi (inclusive)
            if starts is not None:
                lo = starts[klo]
                return lo, starts[khi + 1] - lo
            lo = np.searchsorted(keys, klo, side="left")
            return lo, np.searchsorted(keys, khi, side="right") - lo

        def stripe_segments(P64, pc):
            G = gaps(P64, pc)
            pck = pc.astype(key_t)
            pkey = (pck[:, 0] * nc + pck[:, 1]) * nc + pck[:, 2]
            LO = np.empty((len(stripes), len(pc)), dtype=seg_t)
            CN = np.empty_like(LO)
            for c, (ox, oy, m, dcol) in enumerate(stripes):
                s = G[0, ox + kk] + G[1, oy + kk]
                klo = pkey + dcol
                khi = klo.copy()
                for j in range(1, m + 1):
                    klo -= (s + G[2, kk - j]) < rmax2_infl
                    khi += (s + G[2, kk + j]) < rmax2_infl
                LO[c], CN[c] = lookup(klo, khi)
                CN[c, s >= rmax2_infl] = 0  # not even the centre cell
            return LO, CN

        def cell_segments(P64, pc):
            G = gaps(P64, pc) if prune_ok else None
            LO = np.empty((len(raw_offs), len(pc)), dtype=seg_t)
            CN = np.empty_like(LO)
            for j in range(len(raw_offs)):
                qc = (pc + raw_offs[j]) % nc
                qk = (qc[:, 0] * nc + qc[:, 1]) * nc + qc[:, 2]
                LO[j], CN[j] = lookup(qk, qk)
                if prune_ok:
                    g2 = G[0, oidx[j, 0]] + G[1, oidx[j, 1]]
                    g2 += G[2, oidx[j, 2]]
                    CN[j, g2 >= rmax2_infl] = 0
            return LO, CN

        P = P64.astype(np_dtype)
        Px, Py, Pz = (np.ascontiguousarray(P[:, a]) for a in range(3))
        pc = _cell_index(P64, nc, box)
        if fastpath_ok:
            inner = ((pc >= kk) & (pc <= nc - 1 - kk)).all(axis=1)
            parts = [(np.flatnonzero(inner), False),
                     (np.flatnonzero(~inner), True)]
        else:
            parts = [(np.arange(len(P64)), True)]
        for rows, fold in parts:
            if len(rows) == 0:
                continue
            LO, CN = (cell_segments if fold else stripe_segments)(
                P64[rows], pc[rows])
            # row-major segments: a chunk then covers a contiguous run
            # of rows (probe-local accumulators stay small)
            cn = CN.T.ravel()
            seg = np.flatnonzero(cn)
            if len(seg) == 0:
                continue
            cn = cn[seg]
            lo = LO.T.ravel()[seg]
            srow = rows[seg // len(LO)].astype(np.int32)
            cum = np.cumsum(cn)
            s0, base = 0, 0
            while s0 < len(seg):
                s1 = max(int(np.searchsorted(cum, base + _SWEEP_CHUNK, "right")),
                         s0 + 1)
                cnt = cn[s0:s1]
                gidx = np.arange(cum[s1 - 1] - base, dtype=idx_t)
                gidx += np.repeat((lo[s0:s1] - (cum[s0:s1] - cnt - base))
                                  .astype(idx_t), cnt)
                row = np.repeat(srow[s0:s1], cnt)
                dx = np.take(X, gidx)
                dx -= np.take(Px, row)
                dy = np.take(Y, gidx)
                dy -= np.take(Py, row)
                dz = np.take(Z, gidx)
                dz -= np.take(Pz, row)
                if fold:
                    # min-image fold, f32-exact ((dx2+dy2)+dz2 order kept)
                    for d in (dx, dy, dz):
                        np.abs(d, out=d)
                        np.minimum(d, bx - d, out=d)
                dx *= dx
                dy *= dy
                dz *= dz
                d2 = dx + dy
                d2 += dz
                k = np.flatnonzero(d2 < r2max)
                if len(k):
                    yield row[k], gidx[k], d2[k]
                base, s0 = int(cum[s1 - 1]), s1

    return sweep


def _probe_counts(sweep, grid, probes: pd.DataFrame, id_col: str,
                  r2k: np.ndarray) -> pd.DataFrame:
    """Stream `probes` (``_H`` coords and `id_col`) through `sweep` over
    a particle `grid` -> their nonzero (id_col, shell_idx, cnt[, wsum])
    rows, wsum when the grid carries weights ``W``.

    Counts accumulate into one dense (probes x nshells) array.  Pairs
    come back in ~256k-pair chunks laid out probe-major, so each chunk
    covers a short run of probes and is counted with one small bincount
    over that run's slice (weights: a second bincount of the per-pair
    particle weights, exact while every partial stays under 2^53)."""
    nr = len(r2k)
    W = grid.get("W")
    acc = np.zeros(len(probes) * nr, dtype=np.int64)
    accw = np.zeros_like(acc) if W is not None else None
    for row, gidx, d2 in sweep(grid, probes[list(_H)].to_numpy(np.float64)):
        # rows are sorted within a chunk: count into its slice
        r0 = int(row[0])
        sl = slice(r0 * nr, (int(row[-1]) + 1) * nr)
        keys = (row - r0) * nr + np.searchsorted(r2k, d2, side="right")
        acc[sl] += np.bincount(keys, minlength=sl.stop - sl.start)
        if accw is not None:
            wk = W[gidx]
            if np.abs(wk).sum() < 2.0**53:
                accw[sl] += np.bincount(
                    keys, weights=wk, minlength=sl.stop - sl.start
                ).astype(np.int64)
            else:
                np.add.at(accw[sl], keys, wk)
    nz = np.nonzero(acc)[0]
    cols = {
        id_col: probes[id_col].to_numpy(np.int64)[nz // nr],
        "shell_idx": (nz % nr).astype(np.int32),
        "cnt": acc[nz],
    }
    if accw is not None:
        cols["wsum"] = accw[nz]
    return pd.DataFrame(cols)


def _bcast_plan(
    halos: DataFrame,
    particles: DataFrame,
    r2: np.ndarray,
    box: float,
    dtype: str,
    id_col: str,
    ncells: int,
    h_coords: tuple[str, str, str],
    p_coords: tuple[str, str, str],
    ring_k: int,
) -> DataFrame:
    """Broadcast-halo-grid plan: stream the BIG table map-side only.

    The reference holds its whole index in memory per node and streams
    probes past it (``src/astr_rcount/main.c``); this is the same
    architecture with the sides flipped to fit Spark's broadcast model:
    the probe (halo) table — the small side by the workload's own shape
    (10M probes vs 3x100M particles in the published run) — is sorted
    by cell key into a CSR layout, broadcast once, and every particle
    partition counts against it in a numpy kernel.  The 100 TB particle
    table is NEVER shuffled, exploded, or cogrouped: one scan, map-side
    partial (halo, shell) counts, and a tiny final aggregation whose
    input is bounded by nonzero (halo, shell) cells per partition.
    Requires the halo side to fit in executor memory (~40 B/halo: 10M
    halos ≈ 400 MB — the same assumption the reference makes per node).

    Candidate work per particle = halos in the ring-k cell neighborhood
    around it (k = ring_k; cells of size rmax/k), cut by a per-probe
    Euclidean slab prune.  A finer-than-rmax grid (ring_k >= 2) trades
    a few more candidate CELLS for far fewer candidate PAIRS: the kept
    volume shrinks from the (3*rmax)^3 ring-1 cube toward the ball
    volume plus one cell-width shell — the closest Spark-shaped analog
    of the reference tree's tight MBR descent.  Numerics are identical
    to the other plans' (f32-safe (dx2+dy2)+dz2, strict-< first-match
    searchsorted binning), so the byte-exact golden tests hold for this
    plan too.

    Kernel hot-path design: the ring sweep is ``_make_sweep``, shared
    with plan='dgrid' (z-stripe CSR ranges for interior particles, a
    per-cell wrapped pass for boundary ones, chunked pair phase); this
    plan only accumulates.  Each in-range pair becomes one
    ``halo_row * nshells + shell`` key; keys are sort-reduced (or
    bincounted, when they outnumber the halo x shell domain) per task,
    so only nonzero partial (halo, shell) counts leave it.
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    bc, m = _build_grid(halos, h_coords, id_col, ncells, box, np_dtype)
    r2k = np.asarray(r2, dtype=np_dtype)
    nr = len(r2k)
    sweep = _make_sweep(ncells, box, ring_k, r2, np_dtype, m)
    # int32 wherever the bounds allow — halves the bytes every sort and
    # multiply touches vs int64
    out_t = np.int32 if m * nr < 2**31 - 1 else np.int64

    def _count(keys: np.ndarray):
        # sort-reduce of unit counts: ~4x cheaper than a dense bincount
        # over the m*nr domain at typical keys/task volumes (measured),
        # and it never touches an O(m*nr) accumulator
        ks = np.sort(keys)
        b = np.nonzero(np.r_[True, ks[1:] != ks[:-1]])[0]
        return ks[b], np.diff(np.r_[b, len(ks)]).astype(np.int64)

    def kern(batches):
        data = bc.value
        comp: list[tuple[np.ndarray, np.ndarray]] = []
        raw: list[np.ndarray] = []
        raw_n = 0

        def flush():
            nonlocal raw, raw_n
            if not raw:
                return
            k = np.concatenate(raw)
            if len(k) * 4 > m * nr:
                b = np.bincount(k, minlength=m * nr)  # keys outnumber domain
                knz = np.nonzero(b)[0]
                comp.append((knz.astype(k.dtype), b[knz]))
            else:
                comp.append(_count(k))
            raw, raw_n = [], 0

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # bin from original precision (plan-invariant cells); the
            # kernel-dtype copy is used only for distances
            P64 = pdf[list(_P)].to_numpy(np.float64)
            for _row, gidx, d2 in sweep(data, P64):
                sh = np.searchsorted(r2k, d2, side="right").astype(out_t)
                raw.append(gidx.astype(out_t) * out_t(nr) + sh)
                raw_n += len(sh)
                if raw_n > 24_000_000:
                    flush()
        flush()
        if not comp:
            return
        k = np.concatenate([x[0] for x in comp])
        c = np.concatenate([x[1] for x in comp])
        o = np.argsort(k, kind="stable")
        k, c = k[o], c[o]
        b = np.nonzero(np.r_[True, k[1:] != k[:-1]])[0]
        k, c = k[b], np.add.reduceat(c, b)
        if len(k):
            yield pd.DataFrame(
                {
                    id_col: data["ids"][(k // nr).astype(np.int64)],
                    "shell_idx": (k % nr).astype(np.int32),
                    "cnt": c.astype(np.int64),
                }
            )

    out = particles.select(
        *[F.col(c).alias(a) for c, a in zip(p_coords, _P)]
    ).mapInPandas(kern, schema=f"{id_col} long, shell_idx int, cnt long")
    return out.groupBy(id_col, "shell_idx").agg(F.sum("cnt").alias("cnt"))


def _dgrid_plan(
    halos: DataFrame,
    particles: DataFrame,
    r2: np.ndarray,
    box: float,
    dtype: str,
    id_col: str,
    ncells: int,
    h_coords: tuple[str, str, str],
    p_coords: tuple[str, str, str],
    ring_k: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Broadcast-DATA grid: the reference's architecture, sides as-is.

    ``astr_rcount`` holds the whole particle index in per-node memory
    and streams probes past it (``src/astr_rcount/main.c``); this plan
    is the 1:1 Spark analog: the PARTICLE table is cell-sorted into a
    CSR grid, broadcast once, and the (small) probe table streams
    through ``mapInPandas``.  Every probe's shell counts complete
    inside its own task, so the output needs NO shuffle and NO
    aggregation — the map output IS the result.  Two structural wins
    over plan='bcast' at in-memory data scales:

    * ring bookkeeping (neighbor keys, CSR lookups, slab prune) is per
      PROBE, and probes are typically 10x fewer than particles;
    * per-batch counts accumulate into a dense (batch x nshells)
      array and leave pre-aggregated — the JVM never hash-aggregates
      tens of millions of partial rows (measured at ~40% of plan=
      'bcast' wall time at the reference-matched shape).

    Kernel hot-path design: the ring sweep is ``_make_sweep``, shared
    with plans 'bcast' and 'fused': an interior probe visits (2k+1)^2
    z-stripes, each one contiguous CSR range of particles, instead of
    (2k+1)^3 cells; boundary probes take the per-cell wrapped pass.
    Each Arrow batch of probes is counted by ``_probe_counts``, shared
    with plan='fused'.

    Scale envelope: the DATA side must fit executor memory (16-20 B/
    particle; the reference's own published run holds 3x100M particles
    ~5 GB per node the same way).  Beyond the broadcast budget use
    plan='bcast' (stream the 100 TB side); choose_plan gates on both
    budgets.  Numerics identical to the other plans (f32-safe
    (dx2+dy2)+dz2, strict-< searchsorted binning, min-image fold only
    where a pair can wrap) — pinned by the same golden tests.
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    bc, n_data = _build_grid(particles, p_coords, None, ncells, box, np_dtype,
                             weight_col=weight_col)
    r2k = np.asarray(r2, dtype=np_dtype)
    sweep = _make_sweep(ncells, box, ring_k, r2, np_dtype, n_data)

    def kern(batches):
        data = bc.value
        for pdf in batches:
            out = _probe_counts(sweep, data, pdf, id_col, r2k)
            if len(out):
                yield out

    probes = halos.select(
        F.col(id_col), *[F.col(c).alias(a) for c, a in zip(h_coords, _H)]
    )
    # the probe table is small by this plan's contract, so Spark's scan
    # bin-packing often lands it in one or two partitions — spread it
    # over the cluster (a shuffle of the SMALL side only)
    par = halos.sparkSession.sparkContext.defaultParallelism
    if probes.rdd.getNumPartitions() < par:
        probes = probes.repartition(par)
    schema = f"{id_col} long, shell_idx int, cnt long" + (
        ", wsum long" if weight_col else "")
    return probes.mapInPandas(kern, schema=schema)


def range_join_pairs(
    halos: DataFrame,
    particles: DataFrame,
    radius: float,
    box: float = 1000.0,
    dtype: str = "float32",
    id_col: str = "halo_id",
    particle_id_col: str = "particle_id",
    h_coords: tuple[str, str, str] = ("x", "y", "z"),
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
    include_distance: bool = False,
) -> DataFrame:
    """J3: pair-emitting range join -> (halo_id, particle_id[, d2]).

    The reference's RangeSearch surface
    (``src/objects/ArraySTR/RangeSearch.c:11-52``) — same candidate
    pipeline as shell_count minus the aggregation.  Matches the useful
    interpretation of the reference's squared-radius convention: the
    predicate is strict ``d2 < radius^2`` (SURVEY §2.3 J3 note).
    """
    edges = np.asarray([radius], dtype=np.float32 if dtype == "float32" else np.float64)
    h, p, _, _ = _prep(halos, particles, edges, box, id_col, h_coords, p_coords,
                       ncells, extra_p=(particle_id_col,))
    out = _pairs_within(h.join(p, "cell_id"), squared_edges(edges)[0], box,
                        dtype, id_col, particle_id_col)
    return (out.withColumnRenamed("_d2", "d2") if include_distance
            else out.drop("_d2"))


def range_anti_join(
    particles: DataFrame,
    sites: DataFrame,
    radius: float,
    box: float = 1000.0,
    dtype: str = "float32",
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    s_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
) -> DataFrame:
    """Exclusion-zone filter: rows of `particles` with NO site at
    strict d < radius (periodic min-image) — the negation of the J3
    range join (``range_join_pairs``), the geofencing scrub shape.
    Rows pass through with ALL their columns.

    Plan: the site table (the small side by workload shape) explodes
    its ring cover and broadcasts; ONE broadcast ``left_anti`` join
    keyed on cell_id carries the distance predicate in the join
    condition, so the big table is scanned exactly once, never
    shuffled, and emits survivors map-side.  A particle matching no
    ring cell never even evaluates the distance.  Semantics equal
    NOT EXISTS(site with d^2 < r^2): the ring cover contains every
    cell a violating site could occupy, so anti-join misses nothing."""
    edges = np.asarray(
        [radius], dtype=np.float32 if dtype == "float32" else np.float64
    )
    r2 = squared_edges(edges)
    rmax = float(edges[-1])
    nc, ring_k = _plan_grid("sql", rmax, box, ncells=ncells)
    s = sites.select(*[F.col(c).alias(a) for c, a in zip(s_coords, _H)])
    s = explode_ring(s, nc, box, cols=_H, k=ring_k, prune_radius=rmax,
                     out="_scell")
    p = with_cell(particles, nc, box, cols=p_coords, out="_pcell")
    d2 = squared_distance_expr(_H, p_coords, box, dtype)
    cond = (F.col("_pcell") == F.col("_scell")) & (d2 < F.lit(float(r2[0])))
    return p.join(F.broadcast(s), cond, "left_anti").drop("_pcell")


def shell_totals(counts: DataFrame, id_col: str = "halo_id") -> DataFrame:
    """A2 (corrected): grand total per shell over all halos.

    The reference's printed Total has an aliasing bug (``total =
    &counts[0]`` doubles halo 0, ``src/astr_rcount/main.c:400-429``);
    we compute the true total — SURVEY §2.11.6 says do not reproduce.
    """
    return counts.groupBy("shell_idx").agg(F.sum("cnt").alias("total"))
