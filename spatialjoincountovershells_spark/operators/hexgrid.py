"""Hexagonal (H3-style) cell lattice + geohash encoding.

The square Morton/quadtree suite (tiling.py) answers the north star's
"H3/S2 cell encoding" with Z-order tiles and Chebyshev k-rings.  This
module adds the two industry-standard geo indexes that suite does not
cover:

* a genuinely HEXAGONAL lattice — pointy-top axial coordinates (q, r)
  with cube rounding, the cell shape H3 is named for.  Hexagons have a
  single neighbor class (all 6 ring-1 neighbors share an edge and are
  equidistant center-to-center), the property that makes k-ring
  smoothing isotropic where a square grid's diagonal neighbors are
  sqrt(2) farther away.
* base-32 GEOHASH strings over lat/lon — bit-interleaving (lon first,
  MSB-aligned), which is exactly the Z-order machinery tiling.py
  already has, surfaced in the interchange format every geo stack
  accepts.

Determinism contract (the similarity-kernel pattern, see
operators/similarity.py): the fractional axial coordinates and the
cube rounding are ONE fixed f64 IEEE tree, emitted as SQL text by
``hex_frac_sqls`` / ``HEX_ROUND_STEPS`` and executed verbatim by BOTH
engines — Spark via ``F.expr`` on the identical strings, DuckDB via
``hex_axial_ctes``.  Each step is a named intermediate (a projected
column / CTE column), never a re-inlined subtree, so nothing falls out
of whole-stage codegen (the mega-expression pitfall, see
operators/cells.py) and both engines evaluate literally the same
sequence of correctly-rounded f64 ops.  Rounding is ``floor(v + 0.5)``
everywhere — never ``round()``, whose tie behavior differs across
engines.

Reference provenance: the reference engine (astr_rcount) has no hex
index; this extends the same cell-grid architecture that replaced its
ArraySTR tree (SURVEY.md X1, src/objects/ArraySTR/Build.c) to the
hexagonal lattice.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tiling import (
    _SPREAD_STEPS,
    _grid_dbscan,
    _kring_gather,
    morton_expr,
    spread_np,
)

# f64 literals shared by both engines (repr round-trips exactly)
_SQRT3_3 = "0.5773502691896258"   # sqrt(3)/3
_THIRD = "0.3333333333333333"     # 1/3
_TWO_THIRDS = "0.6666666666666666"  # 2/3


def hex_frac_sqls(x_sql: str, y_sql: str, size: float) -> tuple[str, str]:
    """Fractional pointy-top axial coords (qf, rf) as SQL text.

    size is the hex circumradius (center to vertex).  The same strings
    feed Spark's F.expr and the DuckDB oracle CTE — identical f64 tree.
    """
    s = repr(float(size))
    qf = f"((({_SQRT3_3} * {x_sql}) - ({_THIRD} * {y_sql})) / {s})"
    rf = f"(({_TWO_THIRDS} * {y_sql}) / {s})"
    return qf, rf


# cube rounding over named intermediates _qf/_rf: each entry is
# (new_column, sql_text_referencing_prior_columns).  floor() yields
# BIGINT in Spark and DOUBLE in DuckDB; the values are identical
# integers (|v| << 2^53) and the final CAST pins the dtype.
# Tie convention: at an exact _dy == _dz tie (with _dx not strictly
# largest) the z-fix branch requires _dz > _dy, so Y is re-derived
# instead of Z — canonical cube rounding (_dz >= _dy) would fix Z.
# Both resolve to a valid adjacent cell; this engine's choice is
# pinned identically across the Spark/DuckDB/numpy twins and the
# committed oracles, so do NOT "fix" it to the canonical order.
HEX_ROUND_STEPS: tuple[tuple[str, str], ...] = (
    ("_yf", "(0.0 - _qf) - _rf"),
    ("_xr", "floor(_qf + 0.5)"),
    ("_zr", "floor(_rf + 0.5)"),
    ("_yr", "floor(_yf + 0.5)"),
    ("_dx", "abs(_xr - _qf)"),
    ("_dz", "abs(_zr - _rf)"),
    ("_dy", "abs(_yr - _yf)"),
    ("hq", "CAST(CASE WHEN _dx > _dy AND _dx > _dz THEN (0 - _yr) - _zr "
            "ELSE _xr END AS BIGINT)"),
    ("hr", "CAST(CASE WHEN NOT (_dx > _dy AND _dx > _dz) AND _dz > _dy "
            "THEN (0 - _xr) - _yr ELSE _zr END AS BIGINT)"),
)

_HEX_TMP = ("_qf", "_rf", "_yf", "_xr", "_zr", "_yr", "_dx", "_dz", "_dy")


def with_hex(
    df: DataFrame,
    size: float,
    coords: tuple[str, str] = ("x", "y"),
    out: tuple[str, str] = ("hq", "hr"),
) -> DataFrame:
    """Append hex axial-cell columns (default hq, hr) — pure codegen."""
    qf, rf = hex_frac_sqls(coords[0], coords[1], size)
    d = df.withColumn("_qf", F.expr(qf)).withColumn("_rf", F.expr(rf))
    for name, sql in HEX_ROUND_STEPS:
        d = d.withColumn(name, F.expr(sql))
    d = d.drop(*_HEX_TMP)
    if out != ("hq", "hr"):
        d = d.withColumnRenamed("hq", out[0]).withColumnRenamed("hr", out[1])
    return d


def hex_axial_ctes(src: str, x_sql: str, y_sql: str, size: float,
                   out: str = "hx") -> str:
    """DuckDB CTE chain computing the identical (hq, hr) assignment.

    Select from ``{out}2``; all other columns of `src` carry through.
    """
    qf, rf = hex_frac_sqls(x_sql, y_sql, size)
    steps = ", ".join(f"{sql} AS {name}" for name, sql in HEX_ROUND_STEPS[:7])
    final = ", ".join(f"{sql} AS {name}" for name, sql in HEX_ROUND_STEPS[7:])
    return (
        f"{out}0 AS (SELECT *, {qf} AS _qf, {rf} AS _rf FROM {src}),\n"
        f"{out}1 AS (SELECT *, {steps} FROM {out}0),\n"
        f"{out}2 AS (SELECT * EXCLUDE ({', '.join(_HEX_TMP)}), {final} "
        f"FROM {out}1)"
    )


def hex_np(x: np.ndarray, y: np.ndarray, size: float
           ) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin (brute-force tests) — same f64 op order."""
    s = np.float64(size)
    qf = ((np.float64(_SQRT3_3) * x) - (np.float64(_THIRD) * y)) / s
    rf = (np.float64(_TWO_THIRDS) * y) / s
    yf = (0.0 - qf) - rf
    xr = np.floor(qf + 0.5)
    zr = np.floor(rf + 0.5)
    yr = np.floor(yf + 0.5)
    dx = np.abs(xr - qf)
    dz = np.abs(zr - rf)
    dy = np.abs(yr - yf)
    fix_q = (dx > dy) & (dx > dz)
    hq = np.where(fix_q, (0 - yr) - zr, xr).astype(np.int64)
    hr = np.where(~fix_q & (dz > dy), (0 - xr) - yr, zr).astype(np.int64)
    return hq, hr


def hex_center_np(hq: np.ndarray, hr: np.ndarray, size: float
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Cell center in plane coords (tests: nearest-center property)."""
    s = float(size)
    x = s * (np.sqrt(3.0) * hq + np.sqrt(3.0) / 2.0 * hr)
    y = s * (1.5 * hr)
    return x, y


def hex_ring_offsets(k: int, include_self: bool = True
                     ) -> list[tuple[int, int]]:
    """Axial offsets of the hex k-ring: hex distance
    (|dq| + |dr| + |dq + dr|) / 2 <= k.  k=1 -> 6 neighbors (+ self)."""
    offs = []
    for dq in range(-k, k + 1):
        for dr in range(-k, k + 1):
            d = (abs(dq) + abs(dr) + abs(dq + dr)) // 2
            if d <= k and (include_self or d > 0):
                offs.append((dq, dr))
    return offs


def hex_rollup(
    points: DataFrame,
    size: float,
    coords: tuple[str, str] = ("x", "y"),
    weight_col: str | None = None,
) -> DataFrame:
    """Per-hex aggregation -> (hq, hr, n_points[, wsum]), occupied
    cells only.  One map-side-combined groupBy; the hex assignment is
    pure whole-stage-codegen arithmetic (no lattice table, no UDF).
    ``wsum`` sums each row's weight cast to BIGINT (truncated per row,
    as tiling's tile counts do), so the sum is exact and independent
    of partition order."""
    d = with_hex(points.select(*coords, *(
        [weight_col] if weight_col else [])), size, coords)
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if weight_col:
        aggs.append(F.sum(F.col(weight_col).cast("long")).alias("wsum"))
    return d.groupBy("hq", "hr").agg(*aggs)


def hex_kring_stats(
    points: DataFrame,
    size: float,
    k: int = 1,
    coords: tuple[str, str] = ("x", "y"),
    weight_col: str | None = None,
) -> DataFrame:
    """Hex k-ring smoothing: per OCCUPIED hex cell -> (hq, hr,
    n_points own count, kring_sum counts over the hex k-ring incl.
    self, n_kring_cells occupied ring cells incl. self).

    The same scatter-gather as tile_kring_stats (tiling._kring_gather;
    no self-join: the per-hex agg executes once, each occupied cell
    scatters its count to its ring — 3k(k+1)+1 offsets — and a second
    agg gathers per receiver), but on the hexagonal lattice where
    every ring-1 neighbor is equidistant.  The lattice is unbounded
    (axial coords are plain integers), so there is no edge clamp;
    unoccupied receivers are dropped by the occupancy flag.
    ``weight_col`` switches both sums from point counts to an integer
    mark summed per cell (the tile_kring_stats contract); occupancy
    still means "holds >= 1 point"."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    val = "wsum" if weight_col else "n_points"
    g = _kring_gather(hex_rollup(points, size, coords, weight_col=weight_col),
                      ("hq", "hr"), val, hex_ring_offsets(k), None)
    return g.where("_occ = 1").select(
        F.col("_ra").alias("hq"),
        F.col("_rb").alias("hr"),
        F.col("_own").cast("long").alias(val),
        F.col("_ring").cast("long").alias("kring_sum"),
        F.col("_cells").cast("long").alias("n_kring_cells"),
    )


# axial coords are small signed ints; the offset keeps the packed hex
# key injective and NONNEGATIVE for |hq|, |hr| < 2^20 (a box/size ratio
# no real grid approaches)
_HEX_KEY_OFF = 1 << 20
_HEX_KEY_MUL = 1 << 21


def hex_key_expr(hq, hr):
    """Canonical nonnegative int64 cell key from axial coords."""
    return (hq + F.lit(_HEX_KEY_OFF)) * F.lit(_HEX_KEY_MUL) + (
        hr + F.lit(_HEX_KEY_OFF))


def hex_key_sql(hq: str, hr: str) -> str:
    return f"(({hq}) + {_HEX_KEY_OFF}) * {_HEX_KEY_MUL} + (({hr}) + {_HEX_KEY_OFF})"


def hex_dbscan(
    points: DataFrame,
    size: float,
    min_pts: int,
    coords: tuple[str, str] = ("x", "y"),
    max_iter: int = 64,
) -> DataFrame:
    """Hex-grid DBSCAN: density clustering of the hexagonal lattice ->
    one row per OCCUPIED cell: (hq, hr, n_points, role, cluster_id),
    role in {'core','border','noise'}.

    The same semantics and code as tiling.tile_dbscan
    (tiling._grid_dbscan), on the hex lattice: a cell with n >= min_pts
    is CORE; cores sharing any of their 6 edges are one cluster (hex
    adjacency is edge-only — no square-grid corner-touch ambiguity);
    an occupied non-core cell adjacent to >= 1 core is BORDER and
    takes the minimum adjacent cluster id; else NOISE (-1).
    cluster_id is the minimum packed hex key (hex_key_expr) reachable
    through cores — deterministic.

    The point table aggregates ONCE per cell; core adjacency scatters
    each core to its 6 neighbors and equi-joins back against the core
    set (two tiny tables); components collapse via dedup_clusters'
    min-label + pointer-jumping loop.
    """
    keyed = hex_rollup(points, size, coords).select(
        "hq", "hr", F.col("n_points").alias("n"),
        hex_key_expr(F.col("hq"), F.col("hr")).alias("key"))
    out = _grid_dbscan(keyed, ("hq", "hr"), hex_ring_offsets(1, False),
                       None, min_pts, max_iter)
    return out.select(
        "hq", "hr",
        F.col("n").cast("long").alias("n_points"),
        "role",
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# geohash

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_expr(lat, lon, precision: int = 6):
    """Base-32 geohash string column from lat/lon columns.

    Standard geohash bit order: alternate lon/lat starting with lon,
    MSB first.  Quantize each axis to ``ceil(5*precision/2)`` /
    ``floor(...)`` bits, Z-order-interleave with the same spread-bits
    expressions tiling.py uses for Morton ids (geohash IS a Z-order
    curve in base-32 clothing), then map each 5-bit group through the
    geohash alphabet.  Pure codegen — no UDF.

    Supports precision 1..6 (<= 30 bits): the int bit-spread covers 16
    bits/axis, and 6 chars (~±0.61 km) is the common storage choice.
    """
    if not 1 <= precision <= 6:
        raise ValueError(f"precision must be in 1..6, got {precision}")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    # clamp BOTH edges (like geo_tile_exprs): without the greatest(0),
    # out-of-range inputs below -180/-90 would wrap a negative index
    # through the 16-bit spread mask into an arbitrary geohash
    lon_q = F.greatest(
        F.least(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
            F.lit((1 << lon_bits) - 1),
        ),
        F.lit(0),
    ).cast("long")
    lat_q = F.greatest(
        F.least(
            F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
            F.lit((1 << lat_bits) - 1),
        ),
        F.lit(0),
    ).cast("long")
    # left-align both axes to the 16-bit spread inputs, Z-interleave
    # with lon in the odd (higher) lanes, keep the top nbits: the MSB
    # pair is (lon msb, lat msb) — the standard geohash bit stream
    gh = F.shiftright(
        morton_expr(
            F.shiftleft(lon_q, 16 - lon_bits),
            F.shiftleft(lat_q, 16 - lat_bits),
        ),
        32 - nbits,
    )
    chars = [
        F.substring(
            F.lit(_GH_ALPHABET),
            (F.shiftright(gh, 5 * (precision - 1 - i)) % 32 + 1).cast("int"),
            1,
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lat_sql: str, lon_sql: str, precision: int = 6,
                src: str = "src", out: str = "gh") -> str:
    """DuckDB CTE chain computing the identical geohash string.

    Select ``geohash`` from ``{out}f``.  Mirrors geohash_expr exactly:
    same quantization, same spread-bits steps (tiling._SPREAD_STEPS),
    same alphabet indexing.
    """
    if not 1 <= precision <= 6:
        raise ValueError(f"precision must be in 1..6, got {precision}")
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    parts = [
        f"{out}0 AS (SELECT *, "
        f"(greatest(least(CAST(floor((({lon_sql}) + 180.0) / 360.0 * "
        f"{float(1 << lon_bits)}) AS BIGINT), {(1 << lon_bits) - 1}), 0) "
        f"<< {16 - lon_bits}) & 65535 AS _ax, "
        f"(greatest(least(CAST(floor((({lat_sql}) + 90.0) / 180.0 * "
        f"{float(1 << lat_bits)}) AS BIGINT), {(1 << lat_bits) - 1}), 0) "
        f"<< {16 - lat_bits}) & 65535 AS _ay FROM {src})"
    ]
    for i, (sh, m) in enumerate(_SPREAD_STEPS, start=1):
        parts.append(
            f"{out}{i} AS (SELECT * REPLACE ((_ax | (_ax << {sh})) & {m} "
            f"AS _ax, (_ay | (_ay << {sh})) & {m} AS _ay) FROM {out}{i - 1})"
        )
    parts.append(
        f"{out}5 AS (SELECT * EXCLUDE (_ax, _ay), "
        f"((_ax << 1) | _ay) >> {32 - nbits} AS _gh FROM {out}4)"
    )
    chars = " || ".join(
        f"substring('{_GH_ALPHABET}', "
        f"CAST((_gh >> {5 * (precision - 1 - i)}) % 32 + 1 AS INTEGER), 1)"
        for i in range(precision)
    )
    parts.append(
        f"{out}f AS (SELECT * EXCLUDE (_gh), {chars} AS geohash FROM {out}5)"
    )
    return ",\n".join(parts)


def geohash_np(lat: np.ndarray, lon: np.ndarray, precision: int = 6
               ) -> np.ndarray:
    """numpy twin (tests) — returns an object array of strings."""
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_q = np.maximum(
        np.minimum(
            np.floor((lon + 180.0) / 360.0 * float(1 << lon_bits)),
            (1 << lon_bits) - 1,
        ),
        0,
    ).astype(np.int64)
    lat_q = np.maximum(
        np.minimum(
            np.floor((lat + 90.0) / 180.0 * float(1 << lat_bits)),
            (1 << lat_bits) - 1,
        ),
        0,
    ).astype(np.int64)
    gh = (
        (spread_np(lon_q << (16 - lon_bits)) << 1)
        | spread_np(lat_q << (16 - lat_bits))
    ) >> (32 - nbits)
    out = np.empty(len(gh), dtype=object)
    for i, v in enumerate(gh):
        out[i] = "".join(
            _GH_ALPHABET[(int(v) >> (5 * (precision - 1 - j))) & 31]
            for j in range(precision)
        )
    return out


def geohash_cells(
    points: DataFrame,
    precision: int = 5,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-geohash-cell rollup -> (geohash string, n_points)."""
    g = points.select(
        geohash_expr(F.col(lat_col), F.col(lon_col), precision).alias("geohash")
    )
    return g.groupBy("geohash").agg(F.count(F.lit(1)).alias("n_points"))
