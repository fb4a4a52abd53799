"""Raster <-> vector tiling (graft scope, SURVEY §7.2 M3).

* vector -> raster: ``rasterize_points`` — aggregate a point table onto
  a regular 2D tile grid (counts + optional value sums).  Pure JVM.
* raster -> vector: ``image_tile_stats`` — decode the binary image
  payload of the images table and emit per-tile pixel statistics.
  Arrow-batched ``mapInPandas``; the decode itself is numpy for
  fmt='raw' (RGB8), and stubbed for compressed formats (no image
  codecs in this environment — the Spark-side plumbing is real).
* hierarchical tiles: S2-style quadtree Z-order (Morton) encoding —
  ``morton_tile_expr`` (encode), ``tile_parent_expr`` /
  ``tile_children`` (hierarchy), ``tile_rollup`` (multi-resolution
  count pyramid in one big shuffle + one tiny pyramid shuffle) and
  ``tile_cover`` (bbox -> covering tile set, the S2 "covering"
  analog).  All pure JVM bit expressions with exact DuckDB SQL twins
  (``morton_sql_ctes``) and numpy twins (``morton_np``) so the
  contract gate hash-checks them.  The bit-spread interleave is the
  classic public-domain "Interleave bits by Binary Magic Numbers"
  pattern (Stanford Bit Twiddling Hacks).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tile_id_expr(x, y, res: int, box: float = 1000.0):
    """Compose (row, col) at `res` tiles per axis into one int64 tile id."""
    ts = box / res
    tx = F.least(F.greatest(F.floor(x / F.lit(ts)), F.lit(0)), F.lit(res - 1))
    ty = F.least(F.greatest(F.floor(y / F.lit(ts)), F.lit(0)), F.lit(res - 1))
    return (tx * res + ty).cast("long")


# --- S2-style quadtree Z-order (Morton) tiles -------------------------
#
# Levels: level L has 2^L x 2^L tiles; a tile id is the bit-interleave
# of (tx, ty) with tx in the odd (higher) bit positions.  Parent/child
# moves are 2-bit shifts, so the whole hierarchy lives in one int64 for
# L <= 16 (id < 2^32) — the same trick S2/H3 use for prefix-range
# queries and rollups.

_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)
MAX_TILE_LEVEL = 16


def _spread_expr(v):
    """int64 Column with 16 significant bits -> bits spread to even positions."""
    v = v.bitwiseAND(F.lit(0xFFFF))
    for sh, m in _SPREAD_STEPS:
        v = v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(m))
    return v


def morton_expr(tx, ty):
    """Z-order id from integer tile coords (x odd bits, y even bits)."""
    return F.shiftleft(_spread_expr(tx), 1).bitwiseOR(_spread_expr(ty))


def _clamped_tile_coord(c, level: int, box: float):
    res = 1 << level
    ts = box / res  # box=1000 -> 125 * 2^(3-L), exact in binary for any L
    return F.least(
        F.greatest(F.floor(c.cast("double") / F.lit(ts)), F.lit(0)),
        F.lit(res - 1),
    )


def morton_tile_expr(x, y, level: int, box: float = 1000.0):
    """Z-order tile id at `level` for point columns (x, y) in [0, box)."""
    if not 0 <= level <= MAX_TILE_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_TILE_LEVEL}]")
    return morton_expr(
        _clamped_tile_coord(x, level, box), _clamped_tile_coord(y, level, box)
    )


def quadkey_expr(tile, level: int):
    """Bing-maps quadkey string of a level-`level` Z-order tile id.

    The quadkey IS the Morton id written in base 4, one digit per
    level, MSB first — the string interchange form of the same
    quadtree key (prefix relationships become string prefixes, so
    `startswith` is an ancestor test).  Pure codegen.
    """
    if not 1 <= level <= MAX_TILE_LEVEL:
        raise ValueError(f"level must be in [1, {MAX_TILE_LEVEL}]")
    return F.concat(*[
        F.substring(
            F.lit("0123"),
            (F.shiftright(tile, 2 * (level - 1 - i)) % 4 + 1).cast("int"),
            1,
        )
        for i in range(level)
    ])


def quadkey_sql(tile_sql: str, level: int) -> str:
    """The identical quadkey derivation as ANSI SQL (DuckDB oracles)."""
    if not 1 <= level <= MAX_TILE_LEVEL:
        raise ValueError(f"level must be in [1, {MAX_TILE_LEVEL}]")
    return " || ".join(
        f"substring('0123', CAST((({tile_sql}) >> {2 * (level - 1 - i)}) "
        f"% 4 + 1 AS INTEGER), 1)"
        for i in range(level)
    )


def quadkey_np(tile: np.ndarray, level: int) -> np.ndarray:
    """numpy twin (tests)."""
    out = np.empty(len(tile), dtype=object)
    for i, t in enumerate(tile):
        out[i] = "".join(
            "0123"[(int(t) >> (2 * (level - 1 - j))) & 3]
            for j in range(level)
        )
    return out


def tile_parent_expr(tile, steps: int = 1):
    """Ancestor tile id `steps` levels up (quadtree prefix shift)."""
    return F.shiftright(tile, 2 * steps)


def tile_children(tile):
    """array<long> of the 4 child tile ids one level down."""
    base = F.shiftleft(tile, 2)
    return F.array(*[base + F.lit(i) for i in range(4)])


def spread_np(v: np.ndarray) -> np.ndarray:
    """numpy twin of ``_spread_expr`` (tests / oracles)."""
    v = v.astype(np.int64) & 0xFFFF
    for sh, m in _SPREAD_STEPS:
        v = (v | (v << sh)) & m
    return v


def morton_np(tx: np.ndarray, ty: np.ndarray) -> np.ndarray:
    return (spread_np(tx) << 1) | spread_np(ty)


def morton_decode_np(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``morton_np`` (tests only; the engine never decodes)."""
    def compact(v):
        v = v.astype(np.int64) & 0x55555555
        for sh, m_ in ((1, 0x33333333), (2, 0x0F0F0F0F), (4, 0x00FF00FF),
                       (8, 0x0000FFFF)):
            v = (v | (v >> sh)) & m_
        return v

    return compact(m >> 1), compact(m)


def morton_sql_ctes(src: str, tx_sql: str, ty_sql: str,
                    out: str = "m") -> str:
    """DuckDB CTE chain computing the identical Z-order id.

    Emits CTEs ``{out}0..{out}5``; select ``tile_id`` (plus all other
    columns of `src`, carried through) from ``{out}5``.
    """
    o = out
    parts = [
        f"{o}0 AS (SELECT *, CAST({tx_sql} AS BIGINT) & 65535 AS _ax, "
        f"CAST({ty_sql} AS BIGINT) & 65535 AS _ay FROM {src})"
    ]
    for i, (sh, m) in enumerate(_SPREAD_STEPS, start=1):
        parts.append(
            f"{o}{i} AS (SELECT * REPLACE ((_ax | (_ax << {sh})) & {m} AS _ax, "
            f"(_ay | (_ay << {sh})) & {m} AS _ay) FROM {o}{i - 1})"
        )
    parts.append(
        f"{o}5 AS (SELECT * EXCLUDE (_ax, _ay), (_ax << 1) | _ay AS tile_id "
        f"FROM {o}4)"
    )
    return ",\n".join(parts)


def tile_rollup(
    points: DataFrame,
    max_level: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Multi-resolution count pyramid: (level, tile_id, n_points) for
    every level in [0, max_level].

    Scale shape: ONE full shuffle (groupBy finest tile over the point
    table), then the pyramid is built from the already-reduced tile
    table — each coarser level is a 2-bit prefix shift, so one more
    tiny shuffle over <= 4^max_level rows covers all levels at once.
    No per-level rescan of the input.
    """
    x, y = (F.col(c) for c in coords)
    finest = (
        points.select(morton_tile_expr(x, y, max_level, box).alias("tile_id"))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return (
        finest.select(
            "tile_id",
            "n_points",
            F.explode(
                F.sequence(F.lit(0), F.lit(max_level))
            ).alias("level"),
        )
        .groupBy(
            "level",
            F.expr(f"shiftright(tile_id, 2 * ({max_level} - level))").alias(
                "tile_id"
            ),
        )
        .agg(F.sum("n_points").alias("n_points"))
        .select("level", "tile_id", "n_points")
    )


def tile_adaptive(
    points: DataFrame,
    max_level: int,
    capacity: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """Adaptive quadtree refinement: recursively split every tile whose
    count exceeds `capacity`, stopping at `max_level` — the occupied
    LEAF tiles of the variable-depth quadtree (an S2-style adaptive
    covering: dense regions get fine tiles, sparse regions coarse
    ones).  Empty siblings of split tiles are never materialized.

    -> (level int, tile_id long Morton id AT that level, n_points
    long).  Leaves partition the points: n_points sums to the input
    count, and no leaf is an ancestor of another.

    No recursion at execution time: counts are monotone non-increasing
    down any root->tile chain, so "every ancestor was split" collapses
    to "the direct parent's count > capacity", and the whole tree
    evaluates as ONE pyramid (`tile_rollup`: one point-table shuffle +
    one pyramid shuffle) + ONE self-join of the tiny tile table on the
    2-bit-shift parent key:

        leaf(T, L) :=  (n(T) <= capacity  OR  L == max_level)
                   AND (L == 0            OR  n(parent(T)) > capacity)
    """
    if max_level < 0 or capacity < 1:
        raise ValueError("need max_level >= 0 and capacity >= 1")
    # persisted: both sides of the parent self-join read the pyramid —
    # unpersisted, each side would re-scan the full point table
    pyr = tile_rollup(points, max_level, box, coords).persist()
    parent = pyr.select(
        (F.col("level") + 1).alias("_plevel"),
        F.col("tile_id").alias("_ptile"),
        F.col("n_points").alias("_pn"),
    )
    child = pyr.join(
        parent,
        (F.col("level") == F.col("_plevel"))
        & (F.shiftright(F.col("tile_id"), 2) == F.col("_ptile")),
        "left",
    )
    is_leaf = (
        (F.col("n_points") <= F.lit(int(capacity)))
        | (F.col("level") == F.lit(int(max_level)))
    ) & ((F.col("level") == 0) | (F.col("_pn") > F.lit(int(capacity))))
    return child.where(is_leaf).select(
        F.col("level").cast("int").alias("level"),
        F.col("tile_id").cast("long").alias("tile_id"),
        F.col("n_points").cast("long").alias("n_points"),
    )


def _tile_counts(
    points: DataFrame,
    level: int,
    box: float,
    coords: tuple[str, str],
    weight_col: str | None = None,
) -> DataFrame:
    """ONE aggregation of the point table onto the level grid ->
    (tx, ty, n).  Every tile-table operator starts here so the big
    table is scanned exactly once; everything downstream works on the
    reduced (<= 4^level rows) tile table.

    weight_col: an INTEGER mark column summed per tile instead of the
    row count (the statistics stay exact; callers quantize float marks
    first, same contract as shell_count's weight_col).  A tile is
    occupied when it has >= 1 row, even at weight sum 0."""
    x, y = (F.col(c) for c in coords)
    agg = (
        F.count(F.lit(1)) if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    return (
        points.select(
            _clamped_tile_coord(x, level, box).cast("long").alias("tx"),
            _clamped_tile_coord(y, level, box).cast("long").alias("ty"),
            *([F.col(weight_col)] if weight_col else []),
        )
        .groupBy("tx", "ty")
        .agg(agg.alias("n"))
    )


def _square_offsets(k: int, include_self: bool = True
                   ) -> list[tuple[int, int]]:
    """The (2k+1)^2 Chebyshev offsets of the square k-ring."""
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)
            if include_self or (dx, dy) != (0, 0)]


# --- shared lattice engine ---------------------------------------------
#
# Square tiles and hexes run the same neighbourhood algorithms; they
# differ only in the cell columns (tx, ty) / (hq, hr), the integer
# offset list (_square_offsets / hexgrid.hex_ring_offsets), the edge
# bound (res tiles per axis, or None on the unbounded hex lattice) and
# the cluster key (Morton id / hexgrid.hex_key_expr).


def _lattice_scatter(
    t: DataFrame,
    cell: tuple[str, str],
    offsets: list[tuple[int, int]],
    res: int | None,
    *payload: str,
) -> DataFrame:
    """(cell a, cell b, payload...) -> one row per (cell, offset) with
    the receiver (_ra, _rb), the payload and own = 1 on the zero
    offset.  The offset array is one folded SQL literal (no per-row
    lambda); `res` drops receivers off a [0, res)^2 grid."""
    a, b = cell
    arr = ", ".join(f"named_struct('da', {da}, 'db', {db})"
                    for da, db in offsets)
    scat = t.select(*payload, a, b, F.expr(f"explode(array({arr})) AS _o"))
    scat = scat.selectExpr(
        f"{a} + _o.da AS _ra", f"{b} + _o.db AS _rb", *payload,
        "CAST(_o.da = 0 AND _o.db = 0 AS BIGINT) AS own",
    )
    if res is not None:
        scat = scat.where(
            f"_ra >= 0 AND _ra < {res} AND _rb >= 0 AND _rb < {res}")
    return scat


def _kring_gather(
    t: DataFrame,
    cell: tuple[str, str],
    val: str,
    offsets: list[tuple[int, int]],
    res: int | None,
) -> DataFrame:
    """Scatter-gather k-ring sums of `val` -> one row per receiver
    touched by any cell's ring: (_ra, _rb, _own own value, _ring ring
    sum incl. self, _cells contributing cells incl. self, _occ = 1 when
    the receiver itself is in `t`).  No self-join, so the upstream
    plan executes exactly once; each cell's value reaches its ring in
    one explode and one aggregation gathers per receiver."""
    return _lattice_scatter(t, cell, offsets, res, val).groupBy(
        "_ra", "_rb").agg(
        F.sum(F.col("own") * F.col(val)).alias("_own"),
        F.sum(val).alias("_ring"),
        F.count(F.lit(1)).alias("_cells"),
        F.max("own").alias("_occ"),
    )


def _grid_dbscan(
    keyed: DataFrame,
    cell: tuple[str, str],
    offsets: list[tuple[int, int]],
    res: int | None,
    min_pts: int,
    max_iter: int,
) -> DataFrame:
    """Grid DBSCAN over a (cell a, cell b, n, key) occupied-cell table
    -> (a, b, key, n, role, cluster_id), `offsets` the adjacency (no
    self).  Cores (n >= min_pts) scatter to their neighbours and
    equi-join back against the core set (two tiny tables); components
    collapse via dedup_clusters' min-label + pointer-jumping loop;
    non-cores adjacent to a core are border with the minimum adjacent
    cluster id, else noise (-1).  The cell table is cached because
    core/border/noise all derive from it."""
    from .dedup import dedup_clusters

    a, b = cell
    keyed = keyed.persist()
    core = keyed.where(F.col("n") >= int(min_pts))
    edges = _lattice_scatter(
        core.withColumnRenamed("key", "src"), cell, offsets, res, "src"
    ).join(
        core.select(F.col(a).alias("_ra"), F.col(b).alias("_rb"),
                    F.col("key").alias("dst")),
        ["_ra", "_rb"],
    ).select("src", "dst")
    lbl = dedup_clusters(
        edges, id_a="src", id_b="dst", out_id="key",
        out_cluster="cluster_id", max_iter=max_iter,
    )
    # isolated cores (no core neighbour) never enter the pair graph:
    # they are their own singleton cluster
    core_lbl = core.join(lbl, "key", "left").select(
        a, b, "key", "n",
        F.coalesce(F.col("cluster_id"), F.col("key")).alias("cluster_id"),
    )
    nbr_lbl = (
        _lattice_scatter(core_lbl, cell, offsets, res, "cluster_id")
        .groupBy("_ra", "_rb")
        .agg(F.min("cluster_id").alias("_nbr_cluster"))
    )
    rest = keyed.where(F.col("n") < int(min_pts)).join(
        nbr_lbl, (F.col(a) == F.col("_ra")) & (F.col(b) == F.col("_rb")),
        "left",
    ).select(
        a, b, "key", "n",
        F.when(F.col("_nbr_cluster").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
        F.coalesce(F.col("_nbr_cluster"), F.lit(-1)).alias("cluster_id"),
    )
    return core_lbl.select(
        a, b, "key", "n", F.lit("core").alias("role"), "cluster_id"
    ).unionByName(rest)


def tile_kring_stats(
    points: DataFrame,
    level: int,
    k: int = 1,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    weight_col: str | None = None,
) -> DataFrame:
    """H3-style kRing neighborhood aggregation: per-tile point counts
    smoothed over the (2k+1)^2 Chebyshev ring -> one row per OCCUPIED
    tile: (tile_id, n_points own count, kring_sum points in the ring
    incl. self, n_kring_tiles occupied ring tiles incl. self).  Ring
    neighbors off the grid edge are omitted (no wraparound — the
    density-smoothing analog of H3's truncated edge rings).
    `weight_col` switches both sums from point counts to an integer
    mark summed per tile (same contract as shell_count's weight_col);
    occupancy still means "holds >= 1 point", so zero-weight tiles
    stay occupied.

    Scale shape: the point table aggregates ONCE per tile (map-side
    partials), then each occupied tile SCATTERS its count to its ring
    — a (2k+1)^2 offset explode over the tiny tile-agg table — and a
    second aggregation gathers per receiver.  No tile-table self-join,
    so the upstream plan executes exactly once (the bucket_pairs
    lesson, round-2 VERDICT); unoccupied receivers carry no
    self-contribution and are dropped by the occupancy flag, never
    joined against."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    g = _kring_gather(_tile_counts(points, level, box, coords, weight_col),
                      ("tx", "ty"), "n", _square_offsets(k), 1 << level)
    return g.where("_occ = 1").select(
        morton_expr(F.col("_ra"), F.col("_rb")).alias("tile_id"),
        F.col("_own").cast("long").alias("n_points"),
        F.col("_ring").cast("long").alias("kring_sum"),
        F.col("_cells").cast("long").alias("n_kring_tiles"),
    )


def tile_dbscan(
    points: DataFrame,
    level: int,
    min_pts: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    max_iter: int = 64,
) -> DataFrame:
    """Grid DBSCAN: density clustering of the level-`level` tile grid
    -> one row per OCCUPIED tile: (tile_id, n_points, role, cluster_id)
    with role in {'core','border','noise'}.

    Semantics (the tile-granularity analog of DBSCAN's point roles):
    a tile with n >= min_pts is CORE; core tiles that are Chebyshev-1
    adjacent (8-neighborhood, no grid wraparound) are in the same
    cluster; an occupied non-core tile adjacent to >= 1 core tile is
    BORDER and joins the minimum adjacent cluster id; other occupied
    tiles are NOISE (cluster_id = -1).  cluster_id is the minimum
    Z-order tile id reachable through core tiles — a canonical,
    deterministic label.

    Scale shape: the point table aggregates ONCE onto the tile grid;
    everything after runs on the reduced tile table (<= 4^level rows).
    Core adjacency is built by scattering each core tile to its 8-ring
    and equi-joining receivers back against the core set (two tiny
    tables); components collapse via dedup.dedup_clusters' min-label +
    pointer-jumping loop (O(log diameter) rounds, checkpointed).  The
    tile table is cached because core/border/noise all derive from it
    — without the persist each branch would re-aggregate the big point
    table."""
    keyed = _tile_counts(points, level, box, coords).withColumn(
        "key", morton_expr(F.col("tx"), F.col("ty")))
    out = _grid_dbscan(keyed, ("tx", "ty"), _square_offsets(1, False),
                       1 << level, min_pts, max_iter)
    return out.select(
        F.col("key").alias("tile_id"),
        F.col("n").cast("long").alias("n_points"),
        "role",
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _ring_scatter(t: DataFrame, res: int) -> DataFrame:
    """(tx, ty, n) tile table -> one row per grid cell TOUCHED by any
    tile's 3x3 stamp: (rx, ry, x own value, r queen-ring sum excl.
    self, m #valid grid neighbors — a pure function of position).
    Untouched cells have x = 0 AND r = 0, so spatial statistics over
    the FULL grid fold them in via closed forms on grid totals instead
    of materializing 4^level rows (see tile_moran_i / tile_getis_g)."""
    g = _kring_gather(t, ("tx", "ty"), "n", _square_offsets(1), res)
    return g.selectExpr(
        "_ra AS rx", "_rb AS ry", "_own AS x", "_ring - _own AS r",
        f"CAST((least(_ra + 1, {res - 1}) - greatest(_ra - 1, 0) + 1) * "
        f"(least(_rb + 1, {res - 1}) - greatest(_rb - 1, 0) + 1) - 1 "
        "AS BIGINT) AS m",
    )


def _ring_totals(
    points: DataFrame,
    level: int,
    box: float,
    coords: tuple[str, str],
    weight_col: str | None,
) -> DataFrame:
    """The (rx, ry, x, r, m) ring table of the point table's tile
    counts with the grid totals S = sum x and S2 = sum x^2 (exact
    decimal(38,0)) appended to every row as _s, _s2.  The ring table is
    cached because it feeds both the 1-row total and the caller's
    aggregate — without it each branch would re-aggregate the point
    table; the total is a 1-row broadcast, never collected."""
    dec = "decimal(38,0)"
    cell = _ring_scatter(_tile_counts(points, level, box, coords, weight_col),
                         1 << level).persist()
    tot = cell.agg(
        F.sum("x").cast(dec).alias("_s"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("_s2"),
    )
    return cell.crossJoin(F.broadcast(tot))


def tile_moran_i(
    points: DataFrame,
    level: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    weight_col: str | None = None,
) -> DataFrame:
    """Global Moran's I spatial autocorrelation of per-tile point
    counts over ALL 4^level grid cells (empty cells count as x=0),
    queen contiguity (8-neighborhood, no wraparound), binary weights.
    -> ONE row (n_cells, n_occupied, n_points, w_pairs, i_q20) where
    i_q20 = floor(I * 2^20).

        I = (N / W) * sum_ij w_ij d_i d_j / sum_i d_i^2,
        d_i = x_i - mean = (N*x_i - S) / N   (scaled by N to stay
        integral; the common N^2 factor cancels in the ratio).

    Every sum is EXACT integer arithmetic (decimal(38,0) in Spark,
    mirrored by HUGEINT in the DuckDB oracle) — decimal multiply at
    scale 0 never rounds — and only the final ratio runs one fixed
    correctly-rounded f64 tree: floor(((C/D) * N / W) * 2^20), the
    same quantization discipline as the similarity kernels.

    Scale shape: one aggregation of the point table, then one
    ring-scatter of the occupied-tile table and one global agg.  Empty
    cells are NEVER materialized: a cell untouched by the scatter has
    x=0 and ring-count 0, so its contributions reduce to the closed
    forms  S^2 * m_i  (cross term) and  S^2  (variance term), folded
    in via grid totals (m_i = #valid neighbors of cell i, and
    sum_i m_i = W = 4*res*(res-1) + 4*(res-1)^2 for a queen grid)."""
    res = 1 << level
    n_cells = res * res
    w_pairs = 4 * res * (res - 1) + 4 * (res - 1) * (res - 1)
    dec = "decimal(38,0)"
    joined = _ring_totals(points, level, box, coords, weight_col)
    d = (F.lit(n_cells).cast(dec) * F.col("x").cast(dec)) - F.col("_s")
    cross = d * (
        F.lit(n_cells).cast(dec) * F.col("r").cast(dec)
        - F.col("_s") * F.col("m").cast(dec)
    )
    agg = joined.agg(
        F.sum(cross).alias("_c_touched"),
        F.sum(d * d).alias("_d_touched"),
        F.sum(F.col("m").cast(dec)).alias("_m_touched"),
        F.count(F.lit(1)).alias("_n_touched"),
        F.max("_s").alias("_s"),
        F.sum((F.col("x") > 0).cast("long")).alias("n_occupied"),
    )
    s2 = F.col("_s") * F.col("_s")
    c_full = F.col("_c_touched") + s2 * (
        F.lit(w_pairs).cast(dec) - F.col("_m_touched")
    )
    d_full = F.col("_d_touched") + s2 * (
        F.lit(n_cells).cast(dec) - F.col("_n_touched")
    )
    # the ONE floating step: fixed tree, mirrored verbatim in the oracle
    i_q20 = F.floor(
        (
            (c_full.cast("double") / d_full.cast("double"))
            * F.lit(float(n_cells))
            / F.lit(float(w_pairs))
        )
        * F.lit(1048576.0)
    )
    return agg.select(
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.col("n_occupied").cast("long").alias("n_occupied"),
        F.col("_s").cast("long").alias("n_points"),
        F.lit(w_pairs).cast("long").alias("w_pairs"),
        i_q20.cast("long").alias("i_q20"),
    )


def tile_getis_g(
    points: DataFrame,
    level: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    weight_col: str | None = None,
) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-score per tile (the LOCAL companion of
    tile_moran_i's global statistic), queen contiguity INCLUDING self
    (the starred variant), binary weights, population = all 4^level
    grid cells with empty cells counting x = 0.
    -> one row per cell touched by an occupied tile's 3x3 stamp:
    (tile_id, n_points, ring_sum, w, gi_q20), gi_q20 = floor(Gi* 2^20).

        Gi*_i = (Swi - mean * w_i) / (s * sqrt((n w_i - w_i^2)/(n-1)))

    with Swi = sum of x over i's queen neighborhood incl. self, w_i its
    cell count (9 interior, 6 edge, 4 corner), mean = S/n and
    s^2 = S2/n - mean^2.  Multiplying num and denom by n gives the
    all-integer form  A_i / sqrt(B C_i / (n-1))  with
    A_i = n Swi - S w_i,  B = n S2 - S^2,  C_i = n w_i - w_i^2 —
    every sum exact (decimal(38,0) / HUGEINT), then ONE fixed
    correctly-rounded f64 tree (div, sqrt, mul are all IEEE
    correctly-rounded, so the oracle is bit-exact).

    Untouched cells are never materialized (their Gi* is the uniform
    background cold value -S w_i / denom); S and S2 are unaffected
    since they contribute x = 0.  Scale shape: one point-table
    aggregation, one ring-scatter, a 1-row broadcast of (S, S2)."""
    res = 1 << level
    n_cells = res * res
    dec = "decimal(38,0)"
    j = _ring_totals(points, level, box, coords, weight_col)
    w = F.col("m") + 1
    swi = F.col("x") + F.col("r")
    a = F.lit(n_cells).cast(dec) * swi.cast(dec) - F.col("_s") * w.cast(dec)
    b = F.lit(n_cells).cast(dec) * F.col("_s2") - F.col("_s") * F.col("_s")
    c = (F.lit(n_cells) * w - w * w).cast("long")
    gi_q20 = F.floor(
        (
            a.cast("double")
            / F.sqrt(
                b.cast("double") * c.cast("double")
                / F.lit(float(n_cells - 1))
            )
        )
        * F.lit(1048576.0)
    )
    return j.select(
        morton_expr(F.col("rx"), F.col("ry")).alias("tile_id"),
        F.col("x").cast("long").alias("n_points"),
        swi.cast("long").alias("ring_sum"),
        w.cast("long").alias("w"),
        gi_q20.cast("long").alias("gi_q20"),
    )


def tile_local_moran(
    points: DataFrame,
    level: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    weight_col: str | None = None,
) -> DataFrame:
    """Local Moran's I (LISA) per tile — Anselin's local decomposition
    of tile_moran_i's global statistic (sum_i I_i / W = I); completes
    the grid spatial-stats triad with tile_getis_g.  Queen contiguity
    EXCLUDING self, binary weights, population = all 4^level grid cells
    with empty cells counting x = 0.
    -> one row per cell touched by an occupied tile's 3x3 stamp:
    (tile_id, n_points, neigh_sum, m, quad, ii_q20),
    ii_q20 = floor(I_i * 2^20).

        I_i = (x_i - mean) * sum_j w_ij (x_j - mean) / m2,
        m2  = sum_k (x_k - mean)^2 / n

    sum_j w_ij (x_j - mean) = r_i - m_i*mean (empty neighbors fold in:
    each contributes -mean, and m_i counts ALL valid grid neighbors).
    Multiplying num and denom by n^2 gives the all-integer form

        I_i = (n x_i - S)(n r_i - m_i S) / (n S2 - S^2)

    — every sum exact (decimal(38,0) / HUGEINT), then ONE f64 division
    + quantize (bit-exact oracle).  `quad` is the LISA quadrant from
    the exact integer signs (dx = n x_i - S, dr = n r_i - m_i S):
    1=HH (dx>0, dr>0), 2=LL (dx<=0, dr<=0), 3=HL (dx>0, dr<=0), 4=LH.

    Untouched cells are never materialized (their I_i is the uniform
    background value S(m_i S - n r_i-part)=... a pure function of m_i).
    Scale shape: identical to tile_getis_g — one point aggregation,
    one ring-scatter, a 1-row (S, S2) broadcast."""
    res = 1 << level
    n_cells = res * res
    dec = "decimal(38,0)"
    j = _ring_totals(points, level, box, coords, weight_col)
    dx = F.lit(n_cells).cast(dec) * F.col("x").cast(dec) - F.col("_s")
    dr = (
        F.lit(n_cells).cast(dec) * F.col("r").cast(dec)
        - F.col("_s") * F.col("m").cast(dec)
    )
    b = F.lit(n_cells).cast(dec) * F.col("_s2") - F.col("_s") * F.col("_s")
    ii_q20 = F.floor(
        ((dx * dr).cast("double") / b.cast("double")) * F.lit(1048576.0)
    )
    quad = (
        F.when((dx > 0) & (dr > 0), F.lit(1))
        .when((dx <= 0) & (dr <= 0), F.lit(2))
        .when(dx > 0, F.lit(3))
        .otherwise(F.lit(4))
    )
    return j.select(
        morton_expr(F.col("rx"), F.col("ry")).alias("tile_id"),
        F.col("x").cast("long").alias("n_points"),
        F.col("r").cast("long").alias("neigh_sum"),
        F.col("m").cast("long").alias("m"),
        quad.cast("int").alias("quad"),
        ii_q20.cast("long").alias("ii_q20"),
    )


def tile_join_counts(
    points: DataFrame,
    level: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    min_count: int = 1,
) -> DataFrame:
    """Join-count statistics (Cliff-Ord BB/BW/WW) for the binary
    density mark "tile holds >= min_count points" over the full
    4^level queen-contiguity grid — the categorical companion of
    tile_moran_i (which needs an interval mark).

    -> ONE row: (n_cells, n_black, bb, bw, ww, exp_bb_q20) where
    bb/bw/ww are the UNORDERED adjacent same/mixed-color pair counts
    (bb + bw + ww = total queen joins), and exp_bb_q20 =
    floor(2^20 * Wp * B*(B-1) / (n*(n-1))) — the expected BB under
    nonfree (hypergeometric) placement of the B black cells, so
    bb >> exp_bb reads "black cells cluster".  All counts are exact
    integers; the expectation is exact-integer-ratio -> ONE f64 tree.

    Exactness bookkeeping: with b_i in {0,1}, A = sum_i b_i * rB_i
    counts ordered black-black joins (even; BB = A/2), and
    BW = sum_i b_i*(m_i - rB_i) counts each mixed join exactly once
    (from its black endpoint).  White cells fold in via the grid
    totals: WW = Wp - BB - BW with Wp = (4*res*(res-1) +
    4*(res-1)^2)/2.  Scale shape: one point aggregation, one
    black-tile ring scatter, one global agg."""
    res = 1 << level
    n_cells = res * res
    wp = (4 * res * (res - 1) + 4 * (res - 1) * (res - 1)) // 2
    t = _tile_counts(points, level, box, coords)
    blk = t.where(F.col("n") >= F.lit(int(min_count))).select(
        "tx", "ty", F.lit(1).cast("long").alias("n")
    )
    cell = _ring_scatter(blk, res)
    # coalesce(0): an empty black set aggregates NULL sums
    agg = cell.agg(
        F.coalesce(F.sum("x"), F.lit(0)).alias("_b"),
        F.coalesce(F.sum(F.col("x") * F.col("r")), F.lit(0)).alias("_a"),
        F.coalesce(
            F.sum(F.col("x") * (F.col("m") - F.col("r"))), F.lit(0)
        ).alias("_bw"),
    )
    bb = F.expr("_a DIV 2").cast("long")
    exp_bb_q20 = F.floor(
        (
            F.lit(float(wp))
            * (F.col("_b") * (F.col("_b") - 1)).cast("double")
            / F.lit(float(n_cells) * (n_cells - 1))
        )
        * F.lit(1048576.0)
    )
    return agg.select(
        F.lit(n_cells).cast("long").alias("n_cells"),
        F.col("_b").cast("long").alias("n_black"),
        bb.alias("bb"),
        F.col("_bw").cast("long").alias("bw"),
        (F.lit(wp) - bb - F.col("_bw")).cast("long").alias("ww"),
        exp_bb_q20.cast("long").alias("exp_bb_q20"),
    )


def tile_cover(
    boxes: DataFrame,
    level: int,
    box: float = 1000.0,
    id_col: str = "box_id",
    bounds: tuple[str, str, str, str] = ("xmin", "xmax", "ymin", "ymax"),
) -> DataFrame:
    """S2-style covering: (id, tile_id) for every level-`level` tile
    intersecting each axis-aligned bbox.  Pure JVM sequence+explode;
    output volume is bounded by the bbox area in tiles.

    An inverted extent (min > max, e.g. a periodic wrap-around box
    passed unsplit) covers NOTHING — mirroring generate_series in the
    SQL twin, where a descending range is empty.  Without the guard
    Spark's F.sequence would silently emit a descending (full-span)
    cover.  Callers with wrap-around boxes must split them at the
    boundary first."""
    xmin, xmax, ymin, ymax = (F.col(c) for c in bounds)

    def _span(lo, hi):
        a, b = (_clamped_tile_coord(c, level, box) for c in (lo, hi))
        return F.explode(F.when(a <= b, F.sequence(a, b)))

    tx = _span(xmin, xmax).alias("_tx")
    with_tx = boxes.select(F.col(id_col), ymin, ymax, tx)
    ty = _span(ymin, ymax).alias("_ty")
    return (
        with_tx.select(F.col(id_col), F.col("_tx"), ty)
        .select(
            F.col(id_col),
            morton_expr(F.col("_tx"), F.col("_ty")).alias("tile_id"),
        )
    )


def rasterize_points(
    points: DataFrame,
    res: int,
    box: float = 1000.0,
    coords: tuple[str, str] = ("x", "y"),
    value_col: str | None = None,
) -> DataFrame:
    """-> (tile_id, n_points[, value_sum]) — vector->raster aggregation."""
    x, y = (F.col(c).cast("double") for c in coords)
    g = points.withColumn("tile_id", tile_id_expr(x, y, res, box)).groupBy("tile_id")
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if value_col:
        aggs.append(F.sum(value_col).alias("value_sum"))
    return g.agg(*aggs)


def decode_image_np(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """-> (h, w, 3) uint8.  'raw' is a bare RGB8 buffer; 'dctq' is the
    built-in numpy lossy codec (functions/dctq.py); png/jpeg need
    codecs not present in this container and raise."""
    if fmt == "raw":
        a = np.frombuffer(data, dtype=np.uint8)
        if a.size != w * h * 3:
            raise ValueError(f"raw payload size {a.size} != {w}x{h}x3")
        return a.reshape(h, w, 3)
    if fmt == "dctq":
        from ..functions.dctq import decode_dctq

        return decode_dctq(bytes(data))
    try:  # pragma: no cover - codec not installed in this environment
        from PIL import Image  # noqa: F401
        import io

        return np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            f"fmt={fmt!r} needs an image codec (PIL) not present here"
        ) from e


def image_tile_stats(images: DataFrame, tiles_per_axis: int = 2) -> DataFrame:
    """raster->vector: per-image-tile mean channel intensities.

    -> (image_id, tile_row, tile_col, n_px, mean_r, mean_g, mean_b)
    with means scaled x1000 and floored to int (exact integer math so
    any oracle recomputation matches bit-for-bit).
    """
    t = tiles_per_axis

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "image_id": [],
                "tile_row": [],
                "tile_col": [],
                "n_px": [],
                "mean_r": [],
                "mean_g": [],
                "mean_b": [],
            }
            for img_id, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                a = decode_image_np(bytes(data), int(w), int(h), str(fmt))
                hh, ww = a.shape[0], a.shape[1]
                re = np.minimum((np.arange(hh) * t) // hh, t - 1)
                ce = np.minimum((np.arange(ww) * t) // ww, t - 1)
                tid = (re[:, None] * t + ce[None, :]).ravel()
                flat = a.reshape(-1, 3).astype(np.int64)
                npx = np.bincount(tid, minlength=t * t)
                sums = [
                    np.bincount(tid, weights=flat[:, c], minlength=t * t).astype(
                        np.int64
                    )
                    for c in range(3)
                ]
                for k in range(t * t):
                    if npx[k] == 0:
                        continue
                    rows["image_id"].append(img_id)
                    rows["tile_row"].append(k // t)
                    rows["tile_col"].append(k % t)
                    rows["n_px"].append(int(npx[k]))
                    rows["mean_r"].append(int(sums[0][k] * 1000 // npx[k]))
                    rows["mean_g"].append(int(sums[1][k] * 1000 // npx[k]))
                    rows["mean_b"].append(int(sums[2][k] * 1000 // npx[k]))
            yield pd.DataFrame(rows)

    schema = (
        "image_id string, tile_row int, tile_col int, n_px long, "
        "mean_r long, mean_g long, mean_b long"
    )
    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(op, schema)
