"""Hexagonal axial lattice + geohash: three-engine agreement and
lattice invariants (SURVEY §2.12 graft: H3/S2-style encoding; the
reference's flat square grid — src/objects/MyStruct/MyStruct.h:24-52 —
has no hexagonal or geohash equivalent)."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialjoincountovershells_spark.operators.hexgrid import (
    geohash_cells,
    geohash_expr,
    geohash_np,
    geohash_sql,
    hex_axial_ctes,
    hex_center_np,
    hex_kring_stats,
    hex_np,
    hex_ring_offsets,
    hex_rollup,
    with_hex,
)

SIZE = 7.5


def _xy(n=4000, seed=3, span=400.0):
    rng = np.random.default_rng(seed)
    # include negatives: axial coords must work off the positive box too
    x = rng.uniform(-span / 4, span, n)
    y = rng.uniform(-span / 4, span, n)
    return x, y


def test_hex_three_engine_agreement(spark):
    """Spark F.expr chain, DuckDB CTE chain, and numpy assign the same
    (hq, hr) axial cell — identical f64 trees by construction."""
    x, y = _xy()
    want_q, want_r = hex_np(x, y, SIZE)

    df = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y}))
    got = (
        with_hex(df, SIZE).orderBy("i").toPandas()
    )
    assert np.array_equal(got["hq"].to_numpy(), want_q)
    assert np.array_equal(got["hr"].to_numpy(), want_r)

    con = duckdb.connect()
    con.register("src", pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y}))
    sql = (f"WITH {hex_axial_ctes('src', 'x', 'y', SIZE)} "
           "SELECT hq, hr FROM hx2 ORDER BY i")
    res = con.sql(sql).fetchnumpy()
    assert np.array_equal(res["hq"], want_q)
    assert np.array_equal(res["hr"], want_r)


def test_hex_nearest_center():
    """Cube rounding assigns every point to the NEAREST hex center
    (ties measure-zero): own-center distance <= any k<=2 ring center,
    and never exceeds the circumradius."""
    x, y = _xy(20000, seed=0)
    hq, hr = hex_np(x, y, SIZE)
    cx, cy = hex_center_np(hq, hr, SIZE)
    d_own = np.hypot(x - cx, y - cy)
    assert d_own.max() <= SIZE * (1 + 1e-12)
    for dq, dr in hex_ring_offsets(2, include_self=False):
        ox, oy = hex_center_np(hq + dq, hr + dr, SIZE)
        assert (d_own <= np.hypot(x - ox, y - oy) + 1e-9).all()


def test_hex_ring_offsets_counts():
    # hex k-ring has 3k(k+1)+1 cells including self
    assert len(hex_ring_offsets(1)) == 7
    assert len(hex_ring_offsets(2)) == 19
    assert len(hex_ring_offsets(3)) == 37
    assert len(hex_ring_offsets(1, include_self=False)) == 6


@pytest.mark.parametrize("k", [1, 2, 3])
def test_hex_kring_stats_vs_bruteforce(spark, k):
    x, y = _xy(3000, seed=11)
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    got = {
        (r["hq"], r["hr"]): (r["n_points"], r["kring_sum"], r["n_kring_cells"])
        for r in hex_kring_stats(df, SIZE, k=k).collect()
    }
    hq, hr = hex_np(x, y, SIZE)
    counts: dict = {}
    for a, b in zip(hq, hr):
        counts[(a, b)] = counts.get((a, b), 0) + 1
    want = {}
    for (a, b), n in counts.items():
        ring = [
            counts.get((a + dq, b + dr))
            for dq, dr in hex_ring_offsets(k)
            if (a + dq, b + dr) in counts
        ]
        want[(a, b)] = (n, sum(ring), len(ring))
    assert got == want


def test_geohash_known_vectors():
    """Canonical geohash test vectors (public geohash spec)."""
    lat = np.array([57.64911, 42.6, -25.382708])
    lon = np.array([10.40744, -5.6, -49.265506])
    assert list(geohash_np(lat, lon, 6)) == ["u4pruy", "ezs42e", "6gkzwg"]
    assert list(geohash_np(lat, lon, 5)) == ["u4pru", "ezs42", "6gkzw"]
    assert list(geohash_np(lat, lon, 1)) == ["u", "e", "6"]


def test_geohash_three_engine_agreement(spark):
    rng = np.random.default_rng(5)
    lat = rng.uniform(-90, 90, 3000)
    lon = rng.uniform(-180, 180, 3000)
    # poles / antimeridian / origin edge cases
    lat = np.concatenate([lat, [90.0, -90.0, 0.0, 89.999999]])
    lon = np.concatenate([lon, [180.0, -180.0, 0.0, 179.999999]])
    for prec in (1, 5, 6):
        want = geohash_np(lat, lon, prec)
        df = spark.createDataFrame(pd.DataFrame(
            {"i": np.arange(len(lat)), "lat": lat, "lon": lon}))
        got = (
            df.select("i", geohash_expr(F.col("lat"), F.col("lon"),
                                        prec).alias("g"))
            .orderBy("i").toPandas()["g"].to_numpy()
        )
        assert list(got) == list(want), f"spark mismatch at precision {prec}"
        con = duckdb.connect()
        con.register("src", pd.DataFrame(
            {"i": np.arange(len(lat)), "lat": lat, "lon": lon}))
        sql = (f"WITH {geohash_sql('lat', 'lon', prec)} "
               "SELECT geohash FROM ghf ORDER BY i")
        got_sql = con.sql(sql).fetchnumpy()["geohash"]
        assert list(got_sql) == list(want), f"duckdb mismatch at {prec}"


def test_geohash_precision_guard():
    # the numpy twin (geohash_np) intentionally has no guard; only the
    # column/SQL builders validate precision
    with pytest.raises(ValueError, match="precision"):
        geohash_expr(F.lit(0.0), F.lit(0.0), 7)
    with pytest.raises(ValueError, match="precision"):
        geohash_sql("lat", "lon", 0)


def test_geohash_out_of_range_clamps():
    """Inputs past EITHER edge clamp to the edge cell instead of
    wrapping a negative quantized index through the spread mask."""
    lat = np.array([91.0, -91.0, 90.0 - 1e-9, -90.0])
    lon = np.array([181.0, -181.0, 180.0 - 1e-9, -180.0])
    got = geohash_np(lat, lon, 5)
    edge = geohash_np(np.array([89.999999, -90.0]),
                      np.array([179.999999, -180.0]), 5)
    assert got[0] == edge[0] and got[2] == edge[0]
    assert got[1] == edge[1] and got[3] == edge[1]


def test_geohash_out_of_range_three_engines(spark):
    """Spark expr / DuckDB SQL / numpy agree on out-of-range inputs."""
    lat = np.array([95.0, -95.0, 0.0, 90.0, -90.0])
    lon = np.array([200.0, -200.0, 0.0, 180.0, -180.0])
    want = geohash_np(lat, lon, 4)
    pdf = pd.DataFrame({"i": np.arange(len(lat)), "lat": lat, "lon": lon})
    got = (
        spark.createDataFrame(pdf)
        .select("i", geohash_expr(F.col("lat"), F.col("lon"), 4).alias("g"))
        .orderBy("i").toPandas()["g"].to_numpy()
    )
    assert list(got) == list(want)
    con = duckdb.connect()
    con.register("src", pdf)
    sql = (f"WITH {geohash_sql('lat', 'lon', 4)} "
           "SELECT geohash FROM ghf ORDER BY i")
    got_sql = con.sql(sql).fetchnumpy()["geohash"]
    assert list(got_sql) == list(want)


def test_hex_rollup_partition_invariance(spark):
    x, y = _xy(2000, seed=21)
    pdf = pd.DataFrame({"x": x, "y": y})
    a = hex_rollup(spark.createDataFrame(pdf).repartition(1), SIZE)
    b = hex_rollup(spark.createDataFrame(pdf).repartition(17), SIZE)
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb and len(ka) > 50


def test_geohash_cells_rollup(spark):
    rng = np.random.default_rng(9)
    lat = rng.uniform(-90, 90, 2000)
    lon = rng.uniform(-180, 180, 2000)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    got = {r["geohash"]: r["n_points"]
           for r in geohash_cells(df, precision=2).collect()}
    want: dict = {}
    for g in geohash_np(lat, lon, 2):
        want[g] = want.get(g, 0) + 1
    assert got == want


@pytest.mark.parametrize("frac", [False, True], ids=["int64", "float64"])
def test_hex_kring_weighted_vs_bruteforce(spark, frac):
    """Weights follow the tile_kring_stats contract: each row's weight
    is truncated to an integer BEFORE the per-cell sum, so fractional
    marks give the same exact, order-free sums on both lattices."""
    x, y = _xy(2500, seed=17)
    w = (np.arange(len(x)) * 7 % 23).astype(np.int64)
    if frac:
        w = w / 3.0
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y, "wt": w}))
    from spatialjoincountovershells_spark.operators.hexgrid import (
        hex_kring_stats as hks,
    )

    got = {
        (r["hq"], r["hr"]): (r["wsum"], r["kring_sum"], r["n_kring_cells"])
        for r in hks(df, SIZE, k=1, weight_col="wt").collect()
    }
    hq, hr = hex_np(x, y, SIZE)
    wsum: dict = {}
    for a, b, ww in zip(hq, hr, w):
        wsum[(a, b)] = wsum.get((a, b), 0) + int(ww)
    want = {}
    for (a, b) in wsum:
        ring = [
            wsum[(a + dq, b + dr)]
            for dq, dr in hex_ring_offsets(1)
            if (a + dq, b + dr) in wsum
        ]
        want[(a, b)] = (wsum[(a, b)], sum(ring), len(ring))
    assert got == want


def test_hex_dbscan_vs_bruteforce(spark):
    """hex_dbscan == a numpy union-find replay: same roles, same
    min-packed-key cluster labels, edge-only (6-neighbor) adjacency."""
    from spatialjoincountovershells_spark.operators.hexgrid import (
        _HEX_KEY_MUL,
        _HEX_KEY_OFF,
        hex_dbscan,
    )

    x, y = _xy(6000, seed=23, span=250.0)
    min_pts = 12
    got = {
        (r["hq"], r["hr"]): (r["n_points"], r["role"], r["cluster_id"])
        for r in hex_dbscan(spark.createDataFrame(
            pd.DataFrame({"x": x, "y": y})), SIZE, min_pts).collect()
    }

    hq, hr = hex_np(x, y, SIZE)
    counts: dict = {}
    for a, b in zip(hq, hr):
        counts[(a, b)] = counts.get((a, b), 0) + 1

    def key(c):
        return (c[0] + _HEX_KEY_OFF) * _HEX_KEY_MUL + (c[1] + _HEX_KEY_OFF)

    cores = {c for c, n in counts.items() if n >= min_pts}
    parent = {c: c for c in cores}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    neigh = hex_ring_offsets(1, include_self=False)
    for c in cores:
        for dq, dr in neigh:
            d = (c[0] + dq, c[1] + dr)
            if d in cores:
                ra, rb = find(c), find(d)
                if ra != rb:
                    parent[max(ra, rb, key=key)] = min(ra, rb, key=key)
    lbl = {c: key(min((d for d in cores if find(d) == find(c)), key=key))
           for c in cores}
    want = {}
    for c, n in counts.items():
        if c in cores:
            want[c] = (n, "core", lbl[c])
        else:
            adj = [lbl[(c[0] + dq, c[1] + dr)] for dq, dr in neigh
                   if (c[0] + dq, c[1] + dr) in cores]
            want[c] = (n, "border", min(adj)) if adj else (n, "noise", -1)
    assert got == want
    roles = {r for _, r, _ in got.values()}
    assert roles == {"core", "border", "noise"}
