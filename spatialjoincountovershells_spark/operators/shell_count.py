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
r_max < box/2: explicit ``ncells`` wins, else cells of r_max/2 probed
ring-2 for 'dgrid' and 'fused', which stream the probes, cells of
r_max probed ring-1 for 'bcast', which streams the particles, and the
finest occupancy-capped ring-1 grid for 'sql'.  The same rule sizes
the coarse blocks 'fused' cogroups on.

plan='auto' (``choose_plan``) picks by the broadcast budget alone:
'dgrid' when the particle grid fits it, else 'bcast' when the halo
grid fits it (unweighted only), else 'fused', which broadcasts
nothing.  'sql' is never picked: it stays as the explicit JVM-only
plan, with no Python workers.

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

Every plan but 'sql' runs one sweep operator, ``_sweep_join``: one
side is CSR-sorted by cell key into a grid, the other streams past it
as Arrow record batches through one per-batch loop
(``_sweep_batches``) that puts each batch in the grid's cell-key order
and runs the numpy ring kernel ``_make_sweep`` over it, and a reducer
folds every in-range (row, grid row, d2) pair chunk into output rows.
Every pair is binned by one exact lookup-table binner
(``functions/shells.shell_binner``).  The reducers are
``_probe_counts`` (per-(probe, shell) counts, with weight sums when
the grid carries weights), ``_grid_row_counts`` (per-(grid row, shell)
counts) and nn_dist_cdf's per-probe minimum (``correlation._nn_min``).
Numerics are the same in every plan (f32-safe (dx2+dy2)+dz2, strict-<
first-match binning, the min-image fold only where a pair can wrap),
so the byte-exact golden tests pin every plan.

* plan="dgrid" (``_probe_counts``): the particle (data) grid is
  broadcast and halos stream — the reference's own architecture
  (``astr_rcount`` holds the whole particle index in per-node memory
  and streams probes past it, ``src/astr_rcount/main.c``).  Every
  probe's counts complete inside its own task, so the map output IS
  the result: no shuffle, no aggregation.  Two structural wins over
  'bcast' at in-memory data scales: ring bookkeeping (neighbour keys,
  CSR lookups, slab prune) is per PROBE, and probes are typically 10x
  fewer than particles; and each batch's counts leave pre-aggregated,
  so the JVM never hash-aggregates tens of millions of partial rows
  (measured at ~40% of plan='bcast' wall time at the
  reference-matched shape).  The data side must fit executor memory
  (16-20 B/particle; the reference's published run holds 3x100M
  particles, ~5 GB per node, the same way).
* plan="bcast" (``_grid_row_counts``): the halo grid is broadcast and
  particles stream — the same architecture with the sides flipped to
  fit Spark's broadcast model: the probe table, the small side by the
  workload's own shape (10M probes vs 3x100M particles in the
  published run), is the index, and the 100 TB particle table is
  never shuffled, exploded or cogrouped: one scan, map-side partial
  (halo, shell) counts and a small final aggregation whose input is
  bounded by nonzero (halo, shell) cells per task.  The halo side
  must fit executor memory (~40 B/halo: 10M halos ≈ 400 MB, the
  reference's own per-node assumption) and its id must be an integer.
  The halo table is read and broadcast once, when the plan is built,
  so a streaming particle side (``stream_shell_counts``) sweeps every
  micro-batch past one grid; a changed halo table needs a new query.
* plan="fused" (``_probe_counts``): one particle grid per coarse
  block, built inside its cogroup group; nothing is broadcast.  Every
  particle lies in exactly one block and every halo is copied to each
  block its r_max ball touches (the Euclidean-pruned ring explode,
  wrap included), so a pair is found only in its particle's block and
  the blocks partition the pair set exactly; pairs across the box
  wrap take the sweep's fold path.  One final aggregation sums the
  groups' partial counts.

Skew: 'sql' and 'fused' always join on ``cell_id``, and AQE's skew
join (``get_spark`` turns it on) splits a hot join partition at run
time, the analog of the reference's morsel-driven chunks of 100
(``src/astr_rcount/main.c:795-826``).  A static dense-cell salting
pre-pass on top of it lost every measurement and was removed: at
300k x 20k clustered (warm ``local[4]``) sql took 2.96 CPU.s per
call unsalted against 4.18-5.08 salted, and fused at 1.2M x 80k
8.4-11.5 against 14.6-18.3.

Output: long-form (halo_id, shell_idx, cnt), nonzero rows only — the
dense (nhalos x nshells) matrix of the reference is a presentation
concern (see sources/report.py).
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions.geometry import squared_distance_expr, squared_distance_sql
from ..functions.shells import shell_binner, shell_index_expr, squared_edges
from ..functions.sqltext import dlit, ident
from ..sources.tableio import count_rows, plan_nodes
from .cells import explode_ring, grid_ncells, ring_offsets, with_cell  # noqa: F401

_H = ("_hx", "_hy", "_hz")
_P = ("_px", "_py", "_pz")
_S = ("_sx", "_sy", "_sz")  # the sweep's streamed side

log = logging.getLogger(__name__)


_PLANS = ("sql", "fused", "bcast", "dgrid")
_BUDGET = 512 << 20  # choose_plan's default broadcast budget, bytes


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

    * 'dgrid'/'fused' (the sweep plans that stream the probes): cells
      of size r_max/2, probed ring-2.  Empty cells are free in the CSR
      layout and the ring bookkeeping is a few numpy ops per streamed
      row, so with ~10x fewer probes than particles the Euclidean
      prune's ~2x cut in candidate pairs vs ring-1 is nearly free
      (measured, BENCH/BASELINE.md).
    * 'bcast' (streams the particles past the halo grid): cells of
      size r_max, probed ring-1.  Here the per-row bookkeeping (25
      z-stripes at ring 2, 9 at ring 1) is paid per particle and
      outweighs the extra candidates.  ``tools/sweep_replay.py``
      (single thread, min of 3 repeats, runs alternated with the
      r_max/2 ring-2 grid) on the shuffle workload's seed-1003 inputs
      (300k particles past 20k halos): bcast 0.65-0.83 -> 0.34-0.43
      CPU.s, its ``segments`` phase 0.44-0.58 -> 0.15-0.20, the same
      1,020,613 pairs; on the shells_ref inputs (1M past 100k)
      3.47-3.73 -> 2.16-2.21, the same 5,237,510 pairs.
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
    elif plan in ("dgrid", "fused"):
        nc = grid_ncells(rmax / 2, box)
    else:  # ring-1 on r_max cells, occupancy-capped for sql only
        nc = grid_ncells(rmax, box, n_hint=n_particles if plan == "sql" else None)
    return nc, max(1, math.ceil(rmax / (box / nc) - 1e-9))


def _pairs_within(joined: DataFrame, r2max: float, box: float, dtype: str,
                  *cols: str) -> DataFrame:
    """Candidate pairs (a join carrying `_H` and `_P` coords) ->
    ``(*cols, _d2)`` rows with ``_d2 < r2max``, as SQL text.  The
    min-image squared distance is evaluated TWICE per survivor, not
    once: Catalyst inlines the alias and pushes ``_d2 < r2max`` into
    the join condition, so d2 is computed for every candidate pair
    there (5.40M at the shuffle benchmark's shape) and again in the
    Project for the survivors (1.02M).  What the projection buys is
    the shell CASE tree reading ``_d2`` once instead of re-evaluating
    the expression per branch (which also blows codegen limits at 40
    shells)."""
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


def _broadcast_bytes(n_halos: int, n_particles: int, rmax: float, box: float,
                     ncells: int | None, weighted: bool) -> tuple[int, int]:
    """-> (dgrid, bcast) broadcast payload estimates in bytes, each on
    the grid its plan runs (``_plan_grid``): the CSR rows, ~28 B per
    particle (36 with a weight, one int64 more) or ~40 B per halo (3
    coords + id + sorted key), plus ~4 B per cell of dense offsets
    (``_csr_grid`` switches to sorted keys past 16M cells)."""
    nc_d, nc_b = (_plan_grid(p, rmax, box, ncells=ncells)[0]
                  for p in ("dgrid", "bcast"))
    return (n_particles * (36 if weighted else 28) + min(nc_d**3, 16_000_000) * 4,
            n_halos * 40 + min(nc_b**3, 16_000_000) * 4)


def choose_plan(
    n_halos: int,
    n_particles: int,
    rmax: float,
    box: float = 1000.0,
    ncells: int | None = None,
    max_broadcast_bytes: int = _BUDGET,
    weighted: bool = False,
) -> str:
    """Pick the physical plan for shell_count by the broadcast budget
    alone (payloads: ``_broadcast_bytes``).

    'dgrid' whenever the DATA (particle) grid fits the budget: the
    reference's own architecture — in-memory data grid, streamed
    probes — with no shuffle AND no aggregation; fastest in every
    CPU-pinned measurement at in-memory data scales
    (BENCH/BASELINE.md).

    Else 'bcast' whenever the probe (halo) grid fits the budget (512
    MB covers ~12M probes — reference scale is 10M), unweighted only:
    its sort-reduce kernel has no weighted twin (see shell_count).
    This is a reasoned choice, not a measured one: bcast is the only
    plan that never shuffles the big table, which should dominate at
    100 TB, where the data side cannot fit.  In-memory measurements on
    its old r_max/2 grid went the other way (warm ``local[4]``,
    parquet sink, 5 alternated calls): at 1M x 100k bcast took 8.6
    CPU.s per call against fused's 6.7-6.9.

    Otherwise 'fused', the one plan that broadcasts nothing ('sql'
    broadcasts its exploded ring side at any size, since Spark sizes a
    Generate from its input).  'sql' is never picked: warm calls
    (``local[4]``, noop sink, 4 warm-up then 7 alternated calls,
    process-tree CPU.s medians) cost sql/fused 2.15/1.63 at 300k x 20k
    clustered (r_max 10) and 4.42/2.78 at 600k x 60k uniform (r_max
    20); at 1.2M x 80k clustered (checkpoint sink) 19.63/5.40.  sql
    won only at 60k x 6k uniform, by 0.29 CPU.s, a shape the default
    budget keeps on dgrid.
    """
    dgrid, bcast = _broadcast_bytes(n_halos, n_particles, rmax, box, ncells, weighted)
    if dgrid <= max_broadcast_bytes:
        return "dgrid"
    if not weighted and bcast <= max_broadcast_bytes:
        return "bcast"
    return "fused"


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
    weight picks dgrid or fused.  Keep weights integer for bit-exact
    cross-engine sums.

    plan: 'sql' (codegen join), 'fused' (cogroup of coarse blocks),
    'dgrid' (broadcast particle grid), 'bcast' (broadcast halo grid),
    or 'auto' — dgrid, bcast or fused by the 512 MiB broadcast budget
    (choose_plan); any other name raises.  'auto' needs row counts:
    pass n_halos_est / n_particles_est (free if the caller tracks
    table stats, as any catalog/Iceberg metadata does), or each
    missing side is bounded here by
    ``sources.tableio.count_rows(exact=False)``: the parquet footers'
    row counts, with no Spark job, when the side is a parquet scan
    under projects and filters (a filter makes it an upper bound); a
    count() pre-job for any other input.  The halos are counted only
    when the particle grid misses the budget and bcast is still open.
    Every 'auto' decision is logged at INFO on this module's logger
    with its row counts, both payload estimates, the budget and the
    plan.  'fused' needs the particle count too (its block count is
    occupancy-capped), so without n_particles_est it bounds the
    particles the same way, even with an explicit `ncells`.

    ncells: cells per axis, overriding the plan's grid rule
    (``_plan_grid``, which documents each plan's measured grid; for
    'fused' the sweep grid, not its blocks); the ring depth always
    follows the grid, so any explicit grid is exact.
    """
    edges = np.asarray(edges)
    rmax = float(edges[-1])
    n_est = n_particles_est
    if plan == "auto":
        n_est = n_est or count_rows(particles, exact=False)
        kw = dict(box=box, ncells=ncells, weighted=weight_col is not None)
        # with no halos choose_plan answers 'bcast' iff the halo count
        # can still decide, so the halos are counted only then
        n_h = None
        plan = choose_plan(0, n_est, rmax, **kw)
        if plan == "bcast":
            n_h = n_halos_est or count_rows(halos, exact=False)
            plan = choose_plan(n_h, n_est, rmax, **kw)
        log.info("shell_count plan=auto: %d particles, halos %s, payload bytes "
                 "(dgrid, bcast) %s, budget %d B, weighted=%s -> %s",
                 n_est, "not needed" if n_h is None else n_h,
                 _broadcast_bytes(n_h or 0, n_est, rmax, **kw), _BUDGET,
                 kw["weighted"], plan)
    if weight_col is not None and plan == "bcast":
        raise ValueError("weight_col is not supported by plan='bcast': its "
                         "kernel ships unit counts only; use 'dgrid', "
                         "'fused' or 'sql'")
    if plan == "fused":
        n_est = n_est or count_rows(particles, exact=False)
    # dgrid and bcast run on the grids choose_plan priced their payloads on
    nc, ring_k = _plan_grid(plan, rmax, box, n_est, ncells)
    r2 = squared_edges(edges)
    schema = f"{ident(id_col)} long, shell_idx int, cnt long" + (
        ", wsum long" if weight_col else "")
    sweep_args = (r2, box, dtype, nc, ring_k)
    # bcast's and fused's partial rows summed per (halo, shell)
    sums = [F.expr("sum(cnt) AS cnt")] + (
        [F.expr("sum(wsum) AS wsum")] if weight_col else [])
    if plan == "dgrid":
        return _sweep_join((halos, h_coords, id_col),
                           (particles, p_coords, None, weight_col),
                           _probe_counts, schema, *sweep_args, spread=True)
    if plan == "bcast":
        return _sweep_join((particles, p_coords, None),
                           (halos, h_coords, id_col, None),
                           _grid_row_counts, schema, *sweep_args) \
            .groupBy(id_col, "shell_idx").agg(*sums)
    join_nc = nc
    if plan == "fused":  # joins on coarse blocks, sweeps on the nc grid
        par = halos.sparkSession.sparkContext.defaultParallelism
        join_nc, _ = _plan_grid(plan, rmax, box, n_est, blocks_for=par)
    h, p, _, _ = _prep(
        halos, particles, edges, box, id_col, h_coords, p_coords, join_nc,
        extra_p=(weight_col,) if weight_col else (),
    )
    if plan == "fused":
        return _sweep_join((h, _H, id_col), (p, _P, None, weight_col),
                           _probe_counts, schema, *sweep_args, key="cell_id",
                           n_grid=n_est).groupBy(id_col, "shell_idx").agg(*sums)
    wcols = [weight_col] if weight_col else []
    proj = _pairs_within(h.join(p, "cell_id"), r2[-1], box, dtype, id_col, *wcols)
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

    The collect is an UNORDERED Arrow collect of the coordinates (plus
    ids and weights) only; the cell keys are computed on the driver by
    ``_cell_key`` (``with_cell``'s f64 floor(x/cs), clamped the same
    way, so cell assignment is plan-invariant — pinned by the grid-key
    parity test) and the CSR ordering is a driver-side numpy argsort +
    gather.  A Spark range-partitioned sort before the collect was
    measured SLOWER end-to-end (the sort adds a full shuffle + sampling
    pass and the driver still has to collect every row afterwards;
    argsort+gather of 6M rows is ~0.8s vs ~3s of sort overhead) — and
    the serial work is bounded by the same broadcast budget that gates
    this plan, so it cannot grow past ~16M rows.  Payload layout:
    ``_csr_grid``.  Returns (broadcast, n_rows)."""
    cols = ([id_col] if id_col else []) + list(coords)
    if weight_col:
        cols.append(weight_col)
    tbl = side.select(*cols).toArrow()
    xyz = [np.asarray(tbl.column(c)) for c in coords]
    payload = _csr_grid(
        _cell_key(xyz, ncells, box), xyz, ncells, np_dtype,
        ids=np.asarray(tbl.column(id_col)) if id_col else None,
        W=np.asarray(tbl.column(weight_col)) if weight_col else None,
    )
    n = len(payload["Hx"])
    return side.sparkSession.sparkContext.broadcast(payload), n


def _cell_index(xyz64: np.ndarray, nc: int, box: float) -> np.ndarray:
    """float64 coords -> int64 cell indices (same shape) on the grid of
    nc cells per axis: ``with_cell``'s f64 floor(x / cs), clamped to
    the box the same way (NaN to cell 0, as Spark's FLOOR casts it), so
    a row lands in the same cell in the kernels as in the SQL keys."""
    i = np.floor(xyz64 / (box / nc))
    return np.fmin(np.fmax(i, 0), nc - 1).astype(np.int64)


def _cell_key(xyz, nc: int, box: float) -> np.ndarray:
    """Three per-axis coordinate arrays (any float dtype; an (n, 3)
    array's ``.T``) -> ``with_cell``'s composite int64 key
    (cx*nc + cy)*nc + cz."""
    cx, cy, cz = (_cell_index(np.asarray(c, dtype=np.float64), nc, box)
                  for c in xyz)
    return (cx * nc + cy) * nc + cz


def _arrow_xyz(tbl, names) -> np.ndarray:
    """Three coordinate columns of an Arrow table or record batch ->
    (n, 3) float64 (exact for f32 and f64 columns; nulls read NaN)."""
    out = np.empty((tbl.num_rows, 3))
    for a, c in enumerate(names):
        out[:, a] = np.asarray(tbl.column(c))
    return out


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


def _tick(phase: str) -> None:
    """The sweep's default phase clock: a no-op (tools/sweep_replay.py
    passes one that charges CPU time to each named phase)."""


def _make_sweep(nc: int, box: float, ring_k: int, r2: np.ndarray, np_dtype,
                n_grid: int):
    """The one ring kernel of every numpy plan -> ``sweep(grid, P64)``.

    ``grid`` is a ``_csr_grid`` payload (CSR by cell key), ``P64`` the
    streamed rows' (n, 3) float64 coords.  ``sweep`` yields ``(row,
    gidx, d2)`` chunks: streamed row (int32, non-decreasing within a
    chunk), grid row and kernel-dtype squared distance of every
    candidate pair with ``d2 < r_max^2``.  ``sweep(grid, P64, clock)``
    calls ``clock(phase)`` as each phase of the work ends.

    ``sweep.cell_order(P64)`` is the permutation that puts streamed
    rows in the grid's cell-key order; ``_sweep_batches`` streams every
    batch in that order (one argsort) and maps ids through it.  Rows
    then walk the grid in the order it is laid out in memory: a run of
    consecutive rows gathers from a few nearby CSR ranges instead of
    from the whole grid (shells_ref's 1M-particle f32 grid is 14.5 MB
    with its offsets, held once per Python worker: 58 MB on 4 workers
    against the 4-vCPU EPYC host's 1 MB L2 per core and 32 MB L3).  The
    grid-coordinate gather fell 0.14 -> 0.04 CPU.s in the single-thread
    shells_ref replay (tools/sweep_replay.py, seed 1003).

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

    def sweep(grid, P64, clock=_tick):
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
            clock("segments")
            s0, base = 0, 0
            while s0 < len(seg):
                s1 = max(int(np.searchsorted(cum, base + _SWEEP_CHUNK, "right")),
                         s0 + 1)
                cnt = cn[s0:s1]
                gidx = np.arange(cum[s1 - 1] - base, dtype=idx_t)
                gidx += np.repeat((lo[s0:s1] - (cum[s0:s1] - cnt - base))
                                  .astype(idx_t), cnt)
                row = np.repeat(srow[s0:s1], cnt)
                clock("index build")
                dx = np.take(X, gidx)
                dy = np.take(Y, gidx)
                dz = np.take(Z, gidx)
                clock("grid gather")
                dx -= np.take(Px, row)
                dy -= np.take(Py, row)
                dz -= np.take(Pz, row)
                clock("probe gather")
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
                row, gidx, d2 = row[k], gidx[k], d2[k]
                clock("arithmetic")
                if len(k):
                    yield row, gidx, d2
                base, s0 = int(cum[s1 - 1]), s1

    def cell_order(P64):
        # int32 keys while they fit: argsort's cost tracks the key width
        return np.argsort(_cell_key(P64.T, nc, box).astype(key_t, copy=False))

    sweep.cell_order = cell_order
    sweep.r2k = np.asarray(r2, dtype=np_dtype)
    return sweep


# optimized-plan nodes that never shuffle: `_sweep_join`'s `spread`
# reads the partition count of a side made only of these from its RDD
_NARROW_NODES = frozenset((
    "Project", "Filter", "LogicalRelation", "LogicalRDD", "LocalRelation",
    "Range", "MapInPandas", "MapInArrow", "BatchEvalPython",
    "ArrowEvalPython"))


def _sweep_join(stream: tuple, indexed: tuple, reducer, schema: str, r2,
                box: float, dtype: str, nc: int, ring_k: int,
                spread: bool = False, key: str | None = None,
                n_grid: int | None = None) -> DataFrame:
    """The one sweep operator of every numpy plan -> rows of `schema`.

    `stream` is (DataFrame, coords, id column or None) and `indexed`
    (DataFrame, coords, id column or None, weight column or None).  The
    indexed side is CSR-indexed by cell key on the (`nc`, `ring_k`)
    sweep grid and the streamed side's Arrow batches run past it
    through ``_sweep_batches``, folding pairs into `reducer`.

    Without `key` the indexed side is collected and broadcast once
    (``_build_grid``) and the streamed side runs through one
    ``mapInArrow``: no shuffle.  With `spread`, a streamed side with
    fewer partitions than cores is repartitioned first — Spark's scan
    bin-packing often lands a small probe table in one or two
    partitions, and this shuffles the SMALL side only.  Only a side
    whose optimized plan is all ``_NARROW_NODES`` is asked for its
    partition count: on any other, ``.rdd`` would run the side's
    shuffle as a hidden job, so it is repartitioned unasked, to an
    explicit count AQE leaves alone.

    With `key` (plan 'fused') the two sides are cogrouped on it
    (``applyInArrow``; no pandas on either side): each group's indexed
    rows become its own grid (``_csr_grid``, laid out for the group's
    streamed row count) and its streamed rows are one batch.  `n_grid`
    bounds the rows of any group's grid."""
    sdf, s_coords, s_id = stream
    idf, i_coords, i_id, wcol = indexed
    np_dtype = np.float32 if dtype == "float32" else np.float64
    pa_schema = to_arrow_schema(StructType.fromDDL(schema))
    ssel = ([F.col(s_id)] if s_id else []) + [
        F.col(c).alias(a) for c, a in zip(s_coords, _S)]
    if key is None:
        bc, n_grid = _build_grid(idf, i_coords, i_id, nc, box, np_dtype, wcol)
        sweep = _make_sweep(nc, box, ring_k, r2, np_dtype, n_grid)
        s = sdf.select(*ssel)
        if spread:
            par = sdf.sparkSession.sparkContext.defaultParallelism
            if (any(k not in _NARROW_NODES for k, _ in plan_nodes(s))
                    or s.rdd.getNumPartitions() < par):
                s = s.repartition(par)
        return s.mapInArrow(
            lambda batches: _sweep_batches(sweep, bc.value, batches, s_id,
                                           reducer, pa_schema), schema)
    sweep = _make_sweep(nc, box, ring_k, r2, np_dtype, n_grid)

    def group(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return pa_schema.empty_table()  # a block holding one side only
        I64 = _arrow_xyz(right, i_coords)
        grid = _csr_grid(
            _cell_key(I64.T, nc, box), I64.T, nc, np_dtype,
            n_probes=left.num_rows,
            W=np.asarray(right.column(wcol)) if wcol else None)
        return pa.Table.from_batches(
            list(_sweep_batches(sweep, grid, [left], s_id, reducer,
                                pa_schema)), schema=pa_schema)

    isel = [*i_coords, key] + ([wcol] if wcol else [])
    return (sdf.select(*ssel, F.col(key)).groupBy(key)
            .cogroup(idf.select(*isel).groupBy(key))
            .applyInArrow(group, schema=schema))


def _sweep_batches(sweep, grid, batches, id_col: str | None, reducer,
                   schema: pa.Schema, clock=_tick):
    """The one per-batch loop of every numpy plan -> Arrow record
    batches of `schema`.

    Each batch's ``_S`` coordinates become (n, 3) float64 (exact for
    f32 and f64 columns; cells then come from the original precision,
    so they are plan-invariant), put in the grid's cell-key order
    (``sweep.cell_order``), and its `id_col` ids follow through the
    permutation (without ids, the permutation stands in for them).
    ``sweep`` then hands every in-range ``(row, gidx, d2)`` pair chunk
    to the reducer.

    A reducer is ``reducer(grid, r2k, clock) -> (fold, emit)``, made
    once per call (one Spark task, or one fused group), with `r2k` the
    kernel-dtype squared edges.  ``fold(row, gidx, d2)`` folds one
    chunk.  ``emit(ids)`` is called before each batch with its cell-
    ordered ids and once more with None at the end; it returns the
    columns of the rows that are complete then (the previous batch's,
    or at the end the whole call's) or None.  ``clock(phase)`` charges
    CPU time to a named phase (tools/sweep_replay.py)."""
    fold, emit = reducer(grid, sweep.r2k, clock)

    def rows(ids):
        cols = emit(ids)
        if cols is not None and len(cols[0]):
            yield pa.record_batch(cols, schema=schema)
        clock("accumulate")

    for batch in batches:
        if batch.num_rows == 0:
            continue
        P64 = _arrow_xyz(batch, _S)
        order = sweep.cell_order(P64)
        ids = order if id_col is None else np.asarray(
            batch.column(id_col))[order]
        clock("cell order")
        yield from rows(ids)
        for row, gidx, d2 in sweep(grid, P64[order], clock):
            fold(row, gidx, d2)
    yield from rows(None)


def _probe_counts(grid, r2k: np.ndarray, clock=_tick):
    """Reducer of plans 'dgrid' and 'fused': each batch's nonzero
    (probe id, shell_idx, cnt[, wsum]) rows, wsum when the grid
    carries weights ``W``.

    Counts accumulate into one dense (probes x nshells) array per
    batch.  Pairs come back in ~256k-pair chunks laid out probe-major,
    so each chunk covers a short run of probes, is binned by
    ``shell_binner`` and counted with one small bincount over that
    run's slice (weights: a second bincount of the per-pair particle
    weights, exact while every partial stays under 2^53)."""
    nr = len(r2k)
    bin_ = shell_binner(r2k)
    W = grid.get("W")
    ids = acc = accw = None

    def fold(row, gidx, d2):
        # rows are sorted within a chunk: count into its slice
        r0 = int(row[0])
        sl = slice(r0 * nr, (int(row[-1]) + 1) * nr)
        keys = (row - r0) * nr + bin_(d2)
        clock("binning")
        acc[sl] += np.bincount(keys, minlength=sl.stop - sl.start)
        if accw is not None:
            wk = W[gidx]
            if np.abs(wk).sum() < 2.0**53:
                accw[sl] += np.bincount(
                    keys, weights=wk, minlength=sl.stop - sl.start
                ).astype(np.int64)
            else:
                np.add.at(accw[sl], keys, wk)
        clock("accumulate")

    def emit(next_ids):
        nonlocal ids, acc, accw
        cols = None
        if acc is not None:
            nz = np.nonzero(acc)[0]
            cols = [ids.astype(np.int64, copy=False)[nz // nr],
                    (nz % nr).astype(np.int32), acc[nz]]
            if accw is not None:
                cols.append(accw[nz])
        ids, acc, accw = next_ids, None, None
        if ids is not None:
            acc = np.zeros(len(ids) * nr, dtype=np.int64)
            accw = np.zeros_like(acc) if W is not None else None
        return cols

    return fold, emit


def _grid_row_counts(grid, r2k: np.ndarray, clock=_tick):
    """Reducer of plan 'bcast': the streamed rows are particles and the
    output keys are grid (halo) rows, so the counts span the whole
    task and leave at its end as nonzero partial (halo id, shell_idx,
    cnt) rows.

    Each in-range pair becomes one ``grid_row * nshells + shell`` key.
    Every 24M keys are sort-reduced (or bincounted, when they outnumber
    the halo x shell domain) and the task end merges the partials."""
    nr = len(r2k)
    m = len(grid["Hx"])
    bin_ = shell_binner(r2k)
    # int32 wherever the bounds allow — halves the bytes every sort and
    # multiply touches vs int64
    out_t = np.int32 if m * nr < 2**31 - 1 else np.int64
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
            # sort-reduce of unit counts: ~4x cheaper than a dense
            # bincount over the m*nr domain at typical keys/task volumes
            # (measured), and it never touches an O(m*nr) accumulator
            ks = np.sort(k)
            b = np.nonzero(np.r_[True, ks[1:] != ks[:-1]])[0]
            comp.append((ks[b], np.diff(np.r_[b, len(ks)]).astype(np.int64)))
        raw, raw_n = [], 0

    def fold(_row, gidx, d2):
        nonlocal raw_n
        sh = bin_(d2).astype(out_t, copy=False)
        clock("binning")
        raw.append(gidx.astype(out_t) * out_t(nr) + sh)
        raw_n += len(sh)
        if raw_n > 24_000_000:
            flush()
        clock("accumulate")

    def emit(ids):
        if ids is not None:
            return None  # counts span the task
        flush()
        if not comp:
            return None
        k = np.concatenate([x[0] for x in comp])
        c = np.concatenate([x[1] for x in comp])
        o = np.argsort(k, kind="stable")
        k, c = k[o], c[o]
        b = np.nonzero(np.r_[True, k[1:] != k[:-1]])[0]
        k, c = k[b], np.add.reduceat(c, b)
        return [grid["ids"][(k // nr).astype(np.int64)],
                (k % nr).astype(np.int32), c.astype(np.int64)]

    return fold, emit


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
