"""Uniform periodic cell grid — the engine's spatial index.

Replaces the reference's ArraySTR bulk-load / Guttman R-tree
(``src/objects/ArraySTR/Build.c:716-840``, ``src/objects/RTree/Build.c``)
with an H3/S2-style space-partitioning key: ``cell = floor(coord/cs)``
per axis, composed into one int64 join key.  With ``cs >= r_max`` the
candidate set for a radius-r_max probe is the 27-cell ring-1
neighborhood — the shuffle-native analog of the reference's MBR-overlap
descent (``checkOverlapMbr``, ``src/objects/RTree/Mbr.c:167-205``).

"Build" is O(1) per row (two column expressions), the grid needs no
global structure, and the join key co-partitions both sides — this is
the architecture change that makes the workload scale on a cluster.
Periodic wrap is handled by taking ring offsets mod ncells, dedup'd at
offset level in the driver (no shuffle needed for the dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import dlit, ident

# cells per axis never exceed this: keeps the composite key's nc^3
# range (6.9e10) far inside int64 whatever r_max a caller passes
_MAX_PER_AXIS = 4096


def grid_ncells(
    rmax: float,
    box: float = 1000.0,
    n_hint: int | None = None,
) -> int:
    """Cells per axis: the finest grid with cell_size >= rmax (ring-1 safe).

    n_hint (optional row count): additionally cap at cbrt(n) so average
    occupancy stays >= ~1 — with a tiny radius on sparse data the finest
    grid mostly fans probes into empty cells and the 27x ring fanout
    overhead dominates the (near-zero) candidate work.  At production
    density (the 100 TB table) the rmax cap binds, not this one.
    """
    if rmax <= 0:
        raise ValueError("rmax must be positive")
    nc = max(1, int(box / rmax))  # rmax > box -> one cell covers the box
    while nc > 1 and nc * (box / nc) < box:  # paranoia vs float division
        nc -= 1
    if n_hint is not None and n_hint > 0:
        nc = min(nc, max(1, int(round(n_hint ** (1.0 / 3.0)))))
    return max(1, min(nc, _MAX_PER_AXIS))


def _axis_idx(col: str, cs: float, ncells: int) -> str:
    # clamp: coords are in [0, box) but f32 edge rounding could hit ncells
    i = f"FLOOR(CAST({ident(col)} AS DOUBLE) / {dlit(cs)})"
    return f"CAST(least(greatest({i}, 0), {ncells - 1}) AS BIGINT)"


def with_cell(
    df: DataFrame,
    ncells: int,
    box: float = 1000.0,
    cols: tuple[str, str, str] = ("x", "y", "z"),
    out: str = "cell_id",
) -> DataFrame:
    """Add the composite int64 cell key (cx*nc + cy)*nc + cz."""
    cs = box / ncells
    cx, cy, cz = (_axis_idx(c, cs, ncells) for c in cols)
    return df.withColumn(
        out, F.expr(f"(({cx} * {ncells}) + {cy}) * {ncells} + {cz}"))


def cell_stats(
    df: DataFrame,
    ncells: int,
    box: float = 1000.0,
    cols: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """Per-cell occupancy + tight bounding box (A3 analog).

    The reference maintains per-node MBRs via element-wise min/max
    union during index build (``adjustMbrArraySTRNode``,
    ``src/objects/ArraySTR/Node.c:10-58``); here the same statistic is
    one grouped min/max aggregation over the cell key — used for
    pruning and occupancy diagnostics.
    -> (cell_id, n_points, min_x..max_z)
    """
    g = with_cell(df, ncells, box, cols=cols).groupBy("cell_id")
    aggs = [F.count(F.lit(1)).alias("n_points")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return g.agg(*aggs)


def ring_offsets(ncells: int, k: int = 1, shell_only: bool = False) -> list[tuple[int, int, int]]:
    """Chebyshev ring-<=k (or ==k) offsets, dedup'd modulo the grid size.

    Dedup-at-offset-level is valid because wrap is uniform:
    pmod(c + d1, nc) == pmod(c + d2, nc) for every c iff d1 ≡ d2 (mod nc).
    """
    seen: set[tuple[int, int, int]] = set()
    out: list[tuple[int, int, int]] = []
    r = range(-k, k + 1)
    for dx in r:
        for dy in r:
            for dz in r:
                if shell_only and max(abs(dx), abs(dy), abs(dz)) < k:
                    continue
                key = (dx % ncells, dy % ncells, dz % ncells)
                if key not in seen:
                    seen.add(key)
                    out.append(key)
    return sorted(out)


def explode_ring(
    df: DataFrame,
    ncells: int,
    box: float = 1000.0,
    cols: tuple[str, str, str] = ("x", "y", "z"),
    k: int = 1,
    shell_only: bool = False,
    out: str = "cell_id",
    prune_radius: float | None = None,
) -> DataFrame:
    """Explode each row into its ring-k candidate cells (periodic wrap).

    The analog of the reference's query-box construction + periodic
    subset enumeration (``setQueryMbr`` + ``MultiRangeCount.c:31-71``):
    instead of probing a tree with up to 8 shifted boxes, each probe row
    fans out to its (dedup'd) neighbor cells and the join is a plain
    equi-join on cell_id.

    prune_radius: when the query is a ball of this radius, drop ring
    cells whose MINIMUM distance to the probe point exceeds it — the
    per-row analog of the reference's MBR-overlap test, one level
    tighter than the Chebyshev ring.  A corner-neighbor cell only
    matters when the probe sits within the radius of the shared corner
    (~52% of probes at cs=rmax; far fewer on coarser grids), so this
    cuts candidate pairs ~25% at cs=rmax; on sub-rmax grids
    (k >= 2, cs = rmax/k) the kept set shrinks from the
    (2k+1)^3 Chebyshev cube toward the ball cover itself — ~2x fewer
    candidate PAIRS at k=2, ~2.5x at k=3 (Steiner formula: a random
    ball of radius m cells meets 1 + 6m + 3πm² + (4π/3)m³ cells on
    average).  Safe under the engine's strict d^2 < r^2
    predicate: a pruned cell's points all sit at d >= d_min >= r
    (threshold inflated by 1e-9 relative to swallow f64 boundary
    rounding).  Valid whenever ncells >= 2k+1 (raw offsets recoverable
    from their mod-nc dedup, and the raw-offset image IS the min-image);
    coarser grids skip the prune (the ring already wraps the whole box).

    Two prune levels when active:
    * offset-level (driver, free): an offset whose min gap — (|o|-1)
      whole cells per axis — already exceeds the radius can't satisfy
      it for ANY probe position, so it never enters the explode array
      (e.g. the 8 (±k,±k,±k) corners at k>=3);
    * row-level (codegen): per-axis face gap of THIS probe to the
      candidate cell, summed in squares against r².  The gap expression
      is deliberately FLAT — ``greatest(0, A + greatest(s*cs - s*frac,
      -s*frac))`` with the per-offset constants A = (|raw|-1)*cs and
      s = sign(raw) baked into the explode array, and the in-cell
      fractional position ``frac`` projected ONCE before the explode.
      The natural CASE-per-axis formulation pushed the stage's
      generated method past the JIT/codegen limits and the whole stage
      fell back to interpreted evaluation — 25x slower, measured on
      this very filter (the same class of pitfall as CLAUDE.md's
      interpreted-HOF note, one layer down).

    Every row expression here is SQL text (functions/sqltext.py): the
    offset array is one ``array(named_struct(...), ...)`` literal, the
    cell key one ``F.expr`` and the row prune one ``where`` string, so
    building the explode costs a few py4j calls however many offsets
    survive — as ``Column`` objects each literal and operator costs
    about ten round trips, about 4,900 for the 27-offset pruned array.
    Column names are backtick-quoted, so any name works in ``cols``.
    """
    cs = box / ncells
    cx, cy, cz = (_axis_idx(c, cs, ncells) for c in cols)
    offs = ring_offsets(ncells, k=k, shell_only=shell_only)
    prune = prune_radius is not None and ncells >= 2 * k + 1
    half_nc = ncells // 2

    def _raws(o: tuple[int, int, int]) -> list[int]:
        # raw offset from its mod-nc representative: m<=nc/2 -> m, else m-nc
        return [m if m <= half_nc else m - ncells for m in o]

    r2_infl = float(prune_radius or 0.0) ** 2 * (1.0 + 1e-9)
    if prune and not shell_only:
        # offset-level prune: min gap over every probe position
        offs = [
            o for o in offs
            if sum((max(abs(r) - 1, 0) * cs) ** 2 for r in _raws(o)) < r2_infl
        ]

    def _struct(o: tuple[int, int, int]) -> str:
        fields = [f"'{n}', {v}" for v, n in zip(o, "abc")]
        if prune:
            for ax, raw in zip("xyz", _raws(o)):
                fields.append(f"'s{ax}', {dlit((raw > 0) - (raw < 0))}")
                fields.append(f"'A{ax}', {dlit((abs(raw) - 1) * cs)}")
        return f"named_struct({', '.join(fields)})"

    arr = f"array({', '.join(_struct(o) for o in offs)})"
    if prune:
        # in-cell fractional position, projected once before the explode
        df = df.selectExpr("*", *(
            f"CAST({ident(c)} AS DOUBLE) - ({ci} * {dlit(cs)}) AS `_fr{ax}`"
            for c, ci, ax in zip(cols, (cx, cy, cz), "xyz")
        ))
    df = df.selectExpr("*", f"explode({arr}) AS `_o`")
    nc = ncells
    cell = (
        f"((pmod({cx} + `_o`.`a`, {nc}) * {nc}) + pmod({cy} + `_o`.`b`, {nc}))"
        f" * {nc} + pmod({cz} + `_o`.`c`, {nc})"
    )
    df = df.withColumn(out, F.expr(cell))
    if prune:
        def gap(ax: str) -> str:
            s, A, fr = f"`_o`.`s{ax}`", f"`_o`.`A{ax}`", f"`_fr{ax}`"
            # s=+1 -> A + (cs - frac); s=-1 -> A + frac; s=0 -> 0
            # (A = -cs when s=0, clamped by the outer greatest)
            return (f"greatest(0.0D, {A} + greatest(({s} * {dlit(cs)}) - "
                    f"({s} * {fr}), (-{s}) * {fr}))")

        gx, gy, gz = gap("x"), gap("y"), gap("z")
        df = df.where(
            f"(({gx} * {gx}) + ({gy} * {gy})) + ({gz} * {gz}) < {dlit(r2_infl)}"
        ).drop("_frx", "_fry", "_frz")
    return df.drop("_o")
