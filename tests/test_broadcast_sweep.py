"""The broadcast plans' shared ring sweep (``_make_sweep``) against brute
force: the exact in-range pair set straight from the sweep, and dgrid
(weighted and unweighted) and bcast shell counts through Spark, on the
grids that exercise each of its branches — z-stripes (interior rows),
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


def _brute(H, P, r2, w):
    """f32 min-image brute force -> (counts, weight sums), dense."""
    d = np.abs(H[:, None, :] - P[None, :, :])
    d = np.minimum(d, np.float32(BOX) - d)
    d *= d
    d2 = (d[..., 0] + d[..., 1]) + d[..., 2]
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
    H, P, w, nc, edges = _inputs(case, seed=1)
    r2 = squared_edges(edges).astype(np.float32)
    want_c, want_w = _brute(H, P, r2, w)
    assert want_c.tolist() == oracle_shell_counts(H, P, r2).tolist()
    halos, parts = _frames(spark, H, P, w)
    for plan, wcol in (("dgrid", None), ("dgrid", "w"), ("bcast", None)):
        res = shell_count(halos, parts, edges, plan=plan, ncells=nc,
                          weight_col=wcol).toPandas()
        got_c = np.zeros_like(want_c)
        got_c[res.halo_id, res.shell_idx] = res.cnt
        assert got_c.tolist() == want_c.tolist(), (plan, wcol)
        if wcol:
            got_w = np.zeros_like(want_w)
            got_w[res.halo_id, res.shell_idx] = res.wsum
            assert got_w.tolist() == want_w.tolist()
