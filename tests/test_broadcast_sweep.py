"""The broadcast plans' shared ring sweep (``_make_sweep``) against brute
force: the exact in-range pair set straight from the sweep, and every
consumer of the sweep operator through Spark (dgrid and fused shell
counts, weighted and unweighted, bcast, and nn_dist_cdf's dgrid pass),
on the grids that exercise each of its branches — z-stripes (interior rows),
the wrapped per-cell pass (boundary rows, coarse grids), no prune
(nc < 2k+1) and the sorted-keys fallback (nc^3 > 16M)."""

import numpy as np
import pandas as pd
import pytest

from spatialjoincountovershells_spark import logspace_edges, shell_count, squared_edges
from spatialjoincountovershells_spark.operators import shell_count as shell_count_mod
from spatialjoincountovershells_spark.operators.shell_count import _csr_grid, _make_sweep

from fixtures import oracle_shell_counts

BOX = 1000.0
TOP = float(np.nextafter(np.float32(BOX), np.float32(0)))  # just under box


def _faces(rng, n, nc):
    """Points whose every coordinate lies on a cell face, at 0, or just
    under the box."""
    vals = np.r_[np.arange(nc) * (BOX / nc), TOP]
    return rng.choice(vals, size=(n, 3)).astype(np.float32)


def _one_cell(rng, n, nc):
    """Every point in the cell (2, 3, 4) (interior on a 10-cell grid)."""
    cs = BOX / nc
    lo = np.array([2, 3, 4]) * cs
    return (lo + rng.uniform(0, cs, size=(n, 3))).astype(np.float32)


def _corner(rng, n, nc):
    """A blob over the (0, 0, 0) corner: dense enough for pairs on a fine
    grid, with rows both across the periodic faces and interior."""
    return (rng.uniform(-10.0, 30.0, size=(n, 3)) % BOX).astype(np.float32)


def _uniform(rng, n, nc):
    return rng.uniform(0, BOX, size=(n, 3)).astype(np.float32)


# (name, halo maker, particle maker, ncells, (r_min, r_max, nshells))
CASES = [
    ("faces", _faces, _faces, 10, (5.0, 150.0, 6)),
    ("one_cell", _one_cell, _uniform, 10, (5.0, 150.0, 6)),
    ("no_prune", _uniform, _uniform, 4, (20.0, 300.0, 5)),  # k=2, nc < 5
    ("keys_fallback", _corner, _corner, 260, (0.5, 8.0, 4)),  # 260^3 > 16M
    ("stripes", _uniform, _uniform, 12, (2.0, 100.0, 40)),
]


def _inputs(case, seed=0):
    name, mk_h, mk_p, nc, spec = case
    rng = np.random.default_rng(seed)
    H = mk_h(rng, 60, nc)
    P = np.vstack([mk_p(rng, 700, nc), H[:5]])  # coincident pairs: d = 0
    w = rng.integers(-50, 1000, size=len(P))
    return H, P, w, nc, logspace_edges(*spec)


def _d2(H, P):
    """f32 min-image squared distances, (len(H), len(P))."""
    d = np.abs(H[:, None, :] - P[None, :, :])
    d = np.minimum(d, np.float32(BOX) - d)
    d *= d
    return (d[..., 0] + d[..., 1]) + d[..., 2]


def _brute(H, P, r2, w):
    """f32 min-image brute force -> (counts, weight sums), dense."""
    d2 = _d2(H, P)
    sh = np.searchsorted(r2, d2, side="right")
    cnt = np.zeros((len(H), len(r2)), dtype=np.int64)
    wsum = np.zeros_like(cnt)
    hi, pi = np.nonzero(sh < len(r2))
    np.add.at(cnt, (hi, sh[hi, pi]), 1)
    np.add.at(wsum, (hi, sh[hi, pi]), w[pi])
    return cnt, wsum


@pytest.mark.parametrize("chunk", [None, 37])
@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_sweep_pairs_equal_brute_force(case, chunk, monkeypatch):
    """Every pair with d2 < r_max^2, exactly once, with its exact f32 d2
    (chunk=37: many chunks, and segments longer than one chunk)."""
    if chunk:
        monkeypatch.setattr(shell_count_mod, "_SWEEP_CHUNK", chunk)
    H, P, _w, nc, edges = _inputs(case)
    r2 = squared_edges(edges).astype(np.float32)
    cs = BOX / nc
    rmax = float(edges[-1])
    kk = max(1, int(np.ceil(rmax / cs - 1e-9)))
    key = np.clip(np.floor(P.astype(np.float64) / cs), 0, nc - 1).astype(np.int64)
    key = (key[:, 0] * nc + key[:, 1]) * nc + key[:, 2]
    grid = _csr_grid(key, P.T, nc, np.float32, ids=np.arange(len(P)))
    assert ("keys" in grid) == (nc**3 > 16_000_000)
    sweep = _make_sweep(nc, BOX, kk, r2, np.float32, len(P))
    got = []
    for row, gidx, d2 in sweep(grid, H.astype(np.float64)):
        assert np.all(np.diff(row) >= 0)  # rows sorted within a chunk
        got.append(pd.DataFrame({"h": row, "p": grid["ids"][gidx], "d2": d2}))
    got = pd.concat(got).sort_values(["h", "p"]).reset_index(drop=True)
    d = np.abs(H[:, None, :] - P[None, :, :])
    d = np.minimum(d, np.float32(BOX) - d)
    d *= d
    d2 = (d[..., 0] + d[..., 1]) + d[..., 2]
    hi, pi = np.nonzero(d2 < r2[-1])
    assert len(hi) > 0
    assert got["h"].tolist() == hi.tolist()
    assert got["p"].tolist() == pi.tolist()
    assert got["d2"].to_numpy().tobytes() == d2[hi, pi].tobytes()


def test_csr_layout_follows_probe_count():
    """Dense CSR offsets for a broadcast grid (a whole table streams
    past it): shells_ref's 1M-particle grid on 86^3 cells and the
    shuffle shape's 20k-halo bcast grid on 200^3.  A fused group (10k
    particles on the 200^3 grid of r_max 10) keeps them only while
    nc^3 <= 512 x its probe rows: sorted keys for 3k probes, dense
    offsets for 20k."""
    for n, nc, n_probes, layout in ((1_000_000, 86, None, "starts"),
                                    (20_000, 200, None, "starts"),
                                    (10_000, 200, 3_000, "keys"),
                                    (10_000, 200, 20_000, "starts")):
        grid = _csr_grid(np.zeros(n, np.int64), np.zeros((3, n)), nc,
                         np.float32, n_probes=n_probes)
        assert set(grid) & {"starts", "keys"} == {layout}


def _frames(spark, H, P, w):
    halos = spark.createDataFrame(pd.DataFrame({
        "halo_id": np.arange(len(H), dtype=np.int64),
        "x": H[:, 0], "y": H[:, 1], "z": H[:, 2]}),
        "halo_id long, x float, y float, z float")
    parts = spark.createDataFrame(pd.DataFrame({
        "x": P[:, 0], "y": P[:, 1], "z": P[:, 2], "w": w.astype(np.int64)}),
        "x float, y float, z float, w long")
    return halos, parts


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_broadcast_plans_vs_brute_force(spark, case):
    """Every sweep consumer against brute force: shell counts of dgrid
    and fused (plain and weighted) and bcast, and nn_dist_cdf's dgrid
    pass in G mode (self-mode, with one point duplicated under a new
    id: the coincident pair is a neighbour at distance 0, the identity
    pair is not) and F mode (halos probing the particles)."""
    from spatialjoincountovershells_spark.operators.correlation import (
        nn_dist_cdf,
    )

    H, P, w, nc, edges = _inputs(case, seed=1)
    r2 = squared_edges(edges).astype(np.float32)
    want_c, want_w = _brute(H, P, r2, w)
    assert want_c.tolist() == oracle_shell_counts(H, P, r2).tolist()
    halos, parts = _frames(spark, H, P, w)
    for plan, wcol in (("dgrid", None), ("dgrid", "w"), ("bcast", None),
                       ("fused", None), ("fused", "w")):
        res = shell_count(halos, parts, edges, plan=plan, ncells=nc,
                          weight_col=wcol).toPandas()
        got_c = np.zeros_like(want_c)
        got_c[res.halo_id, res.shell_idx] = res.cnt
        assert got_c.tolist() == want_c.tolist(), (plan, wcol)
        if wcol:
            got_w = np.zeros_like(want_w)
            got_w[res.halo_id, res.shell_idx] = res.wsum
            assert got_w.tolist() == want_w.tolist()

    PG = np.vstack([P, P[:1]])  # P[0] twice, under distinct ids
    dG = _d2(PG, PG)
    np.fill_diagonal(dG, np.inf)  # identity excluded
    assert dG[0].min() == dG[-1].min() == 0.0
    points = spark.createDataFrame(pd.DataFrame({
        "pid": np.arange(len(PG), dtype=np.int64),
        "x": PG[:, 0], "y": PG[:, 1], "z": PG[:, 2]}),
        "pid long, x float, y float, z float")
    for mode, dmin, kw in (("G", dG.min(axis=1), dict(id_col="pid")),
                           ("F", _d2(H, P).min(axis=1), dict(ref=halos))):
        res = nn_dist_cdf(points if mode == "G" else parts, edges,
                          dtype="float32", plan="dgrid", **kw).toPandas()
        want = [int((dmin < e).sum()) for e in r2]
        assert res.sort_values("shell_idx").n_lt.tolist() == want, mode


def _binner_cases(dt):
    """(r2 edges, d2 values) pairs for the binner: one edge, 40
    log-spaced edges, and edges packed closer than one lookup bucket."""
    one = squared_edges(np.array([7.5], dtype=dt))
    logs = squared_edges(logspace_edges(12.7718 / 5000, 12.7718, 40,
                                        dtype=np.dtype(dt).name))
    packed = np.array([1.0, 1.0, 1.0, 1.0, 1.01, 3.0], dtype=dt)
    for i in (1, 2, 3):
        packed[i] = np.nextafter(packed[i - 1], dt(2))  # 1 ulp apart
    tiny = np.finfo(dt).smallest_subnormal
    for r2 in (one, logs, packed):
        ulp_lo = np.nextafter(r2, dt(0))
        ulp_hi = np.nextafter(r2, dt(np.inf))
        d2 = np.concatenate([
            np.array([0.0, -0.0, tiny, 7 * tiny, np.finfo(dt).tiny,
                      np.finfo(dt).max, np.inf], dtype=dt),
            r2, ulp_lo, ulp_hi,  # on each edge and 1 ulp either side
            r2[-1:] * dt(1.5),  # above the last edge
            np.random.default_rng(5).uniform(0, 1.2 * r2[-1], 2000).astype(dt),
        ]).astype(dt)
        yield r2, d2


@pytest.mark.parametrize("dt", [np.float32, np.float64])
def test_shell_binner_equals_searchsorted(dt):
    """The lookup-table binner is np.searchsorted(side='right') exactly:
    zeros of either sign, subnormals, every edge and its two 1-ulp
    neighbours, the last edge and beyond; packed edges force more than
    one compare-correction per bucket."""
    from spatialjoincountovershells_spark.functions.shells import (
        shell_binner,
        shell_index_np,
    )

    for r2, d2 in _binner_cases(dt):
        want = np.searchsorted(r2, d2, side="right")
        assert shell_binner(r2)(d2).tolist() == want.tolist()
        assert shell_index_np(d2, r2).tolist() == want.tolist()
    # the packed case's first four edges share one lookup bucket, so it
    # takes the multi-correction path
    from spatialjoincountovershells_spark.functions.shells import _BIN_SUB_BITS

    packed = list(_binner_cases(dt))[2][0]
    bits = packed[:4].view(np.int32 if dt is np.float32 else np.int64)
    assert len(set((bits >> (np.finfo(dt).nmant - _BIN_SUB_BITS)).tolist())) == 1


def _face_values(nc):
    """Cell faces on an nc-cell grid of BOX, each 1 ulp either side in
    f32 and f64, 0 and -0, box - 1 ulp, and values outside [0, box)."""
    faces = np.arange(nc + 1) * (BOX / nc)
    vals = [faces, [0.0, -0.0, TOP, float(np.nextafter(BOX, 0.0)), BOX,
                    -1e-3, -250.0, 1000.25, 2500.0, np.inf, -np.inf, np.nan]]
    for t in (np.float32, np.float64):
        f = faces.astype(t)
        vals += [np.nextafter(f, t(-np.inf)), np.nextafter(f, t(np.inf))]
    return np.concatenate([np.asarray(v, dtype=np.float64) for v in vals])


@pytest.mark.parametrize("nc", [7, 10, 86])
def test_cell_keys_equal_with_cell_sql(spark, nc):
    """``_cell_key`` (the driver/kernel cell key of every sweep grid and
    of the streamed rows' cell order) equals ``with_cell``'s SQL key on
    every row: at 0, on cell faces and 1 ulp either side, at box - 1
    ulp, and outside [0, box) (infinities and NaN included), where both
    clamp to an edge cell (the coordinate contract is still open; this
    pins today's clamp)."""
    from spatialjoincountovershells_spark import with_cell
    from spatialjoincountovershells_spark.operators.shell_count import _cell_key

    v = _face_values(nc)
    rng = np.random.default_rng(nc)
    xyz = np.stack([v, rng.permutation(v), rng.permutation(v)], axis=1)
    for sql_t, t in (("double", np.float64), ("float", np.float32)):
        X = xyz.astype(t)
        df = spark.createDataFrame(
            pd.DataFrame({"i": np.arange(len(X)), "x": X[:, 0], "y": X[:, 1],
                          "z": X[:, 2]}), f"i long, x {sql_t}, y {sql_t}, z {sql_t}")
        got = with_cell(df, nc, BOX).toPandas().sort_values("i")
        want = _cell_key(X.T, nc, BOX)
        assert got["cell_id"].tolist() == want.tolist(), sql_t


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_probe_order_invariance(spark, case):
    """The streamed side's order does not change the answer: ``_probe_counts``
    on a probe batch and on a random permutation of it give the same
    rows, and so does plan='bcast' (its kernel streams the particles)
    on a permuted particle table."""
    import pyarrow as pa

    from spatialjoincountovershells_spark.operators.shell_count import (
        _S,
        _cell_key,
        _probe_counts,
        _sweep_batches,
    )

    H, P, w, nc, edges = _inputs(case, seed=2)
    r2 = squared_edges(edges).astype(np.float32)
    rmax = float(edges[-1])
    kk = max(1, int(np.ceil(rmax / (BOX / nc) - 1e-9)))
    P64 = P.astype(np.float64)
    grid = _csr_grid(_cell_key(P64.T, nc, BOX), P.T, nc, np.float32, W=w)
    sweep = _make_sweep(nc, BOX, kk, r2, np.float32, len(P))
    ids = np.arange(len(H), dtype=np.int64) * 3 + 11
    perm = np.random.default_rng(3).permutation(len(H))

    def rows(H64, hid):
        schema = pa.schema([("h", pa.int64()), ("shell_idx", pa.int32()),
                            ("cnt", pa.int64()), ("wsum", pa.int64())])
        batch = pa.record_batch([hid, *H64.T], names=["h", *_S])
        out = pa.Table.from_batches(list(_sweep_batches(
            sweep, grid, [batch], "h", _probe_counts, schema)),
            schema=schema).to_pandas()
        return out.sort_values(["h", "shell_idx"]).reset_index(drop=True)

    a = rows(H.astype(np.float64), ids)
    b = rows(H.astype(np.float64)[perm], ids[perm])
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)

    halos, parts = _frames(spark, H, P, w)
    _, parts_perm = _frames(spark, H, P[np.random.default_rng(4).permutation(len(P))], w)
    got = [shell_count(halos, p, edges, plan="bcast", ncells=nc).toPandas()
           .sort_values(["halo_id", "shell_idx"]).reset_index(drop=True)
           for p in (parts, parts_perm)]
    assert len(got[0]) > 0
    pd.testing.assert_frame_equal(got[0], got[1])
