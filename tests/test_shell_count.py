"""Core shell-count join: TestData4PB golden fixture + randomized oracle."""

import numpy as np
import pytest

from spatialjoincountovershells_spark import (
    logspace_edges,
    shell_count,
    shell_totals,
    squared_edges,
)
from spatialjoincountovershells_spark.sources.synth import synth_points_np

from fixtures import (
    PB_HALOS,
    PB_PARTICLES,
    dense_from_long,
    jobs_in_group,
    oracle_shell_counts,
)


def _df_points(spark, arr, id_col=None):
    import pandas as pd

    cols = {}
    if id_col:
        cols[id_col] = np.arange(len(arr), dtype=np.int64)
    cols.update({c: arr[:, i].astype(np.float32) for i, c in enumerate("xyz")})
    pdf = pd.DataFrame(cols)
    schema = (f"{id_col} long, " if id_col else "") + "x float, y float, z float"
    return spark.createDataFrame(pdf, schema=schema)


def _run(spark, H, P, edges, plan, ncells=None, dtype="float32"):
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P)
    res = shell_count(halos, parts, edges, plan=plan, ncells=ncells, dtype=dtype)
    rows = [(r.halo_id, r.shell_idx, r.cnt) for r in res.collect()]
    return dense_from_long(rows, len(H), len(edges))


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
@pytest.mark.parametrize(
    "spec,expected",
    [
        # strict-< edge case: d=1 fails `1.0 < 1.0`, lands in shell [1,2)
        ((0.5, 2.0, 3), [1, 0, 7]),
        ((0.9, 1.8, 2), [1, 7]),  # 1, sqrt2, sqrt3 all in [0.9, 1.8)
        ((1.9, 1.99, 1), [8]),
        ((0.5, 0.9, 2), [1, 0]),  # r_max < 1: only the coincident corner
    ],
)
def test_periodic_golden(spark, plan, spec, expected):
    edges = logspace_edges(*spec)
    got = _run(spark, PB_HALOS, PB_PARTICLES, edges, plan)
    want = np.array([expected, expected])  # both halos are symmetric corners
    assert got.tolist() == want.tolist()
    # and the numpy oracle agrees with the hand-derived counts
    assert oracle_shell_counts(PB_HALOS, PB_PARTICLES, squared_edges(edges)).tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
@pytest.mark.parametrize(
    "seed,n_part,n_halo,spec",
    [
        (0, 1000, 50, (0.001, 5.0, 40)),  # the README's radius spec
        (1, 1000, 30, (10.0, 300.0, 8)),
        (2, 500, 20, (400.0, 499.0, 4)),  # stresses multi-dim periodic wrap
    ],
)
def test_random_vs_oracle(spark, plan, seed, n_part, n_halo, spec):
    P = synth_points_np(n_part, seed=seed)
    H = synth_points_np(n_halo, seed=seed + 1000)
    edges = logspace_edges(*spec)
    got = _run(spark, H, P, edges, plan)
    want = oracle_shell_counts(H, P, squared_edges(edges))
    assert got.tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
def test_skewed_clusters_vs_oracle(spark, plan):
    """Heavily clustered data (the 100-TB failure mode AQE's skew join
    exists for): 80% of particles in one tight blob, halos half inside
    the blob — every plan must match the numpy oracle."""
    rng = np.random.default_rng(42)
    blob = (rng.normal(0, 4.0, size=(800, 3)) + 500.0) % 1000.0
    bg = rng.uniform(0, 1000.0, size=(200, 3))
    P = np.vstack([blob, bg]).astype(np.float32)
    H = np.vstack([
        (rng.normal(0, 4.0, size=(25, 3)) + 500.0) % 1000.0,
        rng.uniform(0, 1000.0, size=(25, 3)),
    ]).astype(np.float32)
    edges = logspace_edges(1.0, 60.0, 6)
    want = oracle_shell_counts(H, P, squared_edges(edges))
    got = _run(spark, H, P, edges, plan)
    assert got.tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["bcast", "dgrid"])
def test_broadcast_sparse_grid_fallback(spark, plan):
    """nc^3 > 16M disables the dense CSR offsets in _build_grid, so the
    broadcast kernels must take the sorted-keys searchsorted fallback —
    the only regime that branch serves since the round-3 payload trim."""
    P = synth_points_np(400, seed=9)
    H = synth_points_np(15, seed=1009)
    edges = logspace_edges(0.5, 5.0, 4)
    got = _run(spark, H, P, edges, plan, ncells=260)
    want = oracle_shell_counts(H, P, squared_edges(edges))
    assert got.tolist() == want.tolist()


def test_shell_totals(spark):
    edges = logspace_edges(0.5, 2.0, 3)
    halos = _df_points(spark, PB_HALOS, id_col="halo_id")
    parts = _df_points(spark, PB_PARTICLES)
    counts = shell_count(halos, parts, edges)
    tot = {r.shell_idx: r.total for r in shell_totals(counts).collect()}
    # true grand total = 2x per-halo (the reference's printed Total is
    # wrong via the counts[0] aliasing bug - we assert the corrected one)
    assert tot == {0: 2, 2: 14}


def test_rmax_guard(spark):
    halos = _df_points(spark, PB_HALOS, id_col="halo_id")
    parts = _df_points(spark, PB_PARTICLES)
    with pytest.raises(ValueError, match="box/2"):
        shell_count(halos, parts, np.array([600.0], dtype=np.float32))


def test_choose_plan_measured_regimes():
    from spatialjoincountovershells_spark.operators.shell_count import choose_plan

    # dgrid wins whenever the DATA side fits the broadcast budget
    # (the reference's own in-memory-grid architecture; fastest in
    # every CPU-pinned measurement, BENCH/BASELINE.md)
    assert choose_plan(60_000, 600_000, rmax=20.0) == "dgrid"
    # data too big, probe side fits: bcast, by reasoning rather than
    # measurement — it never shuffles the big table (ref scale: 10M
    # probes vs 300M particles).  Warm in-memory calls (local[4],
    # parquet sink) lost where this rule picks it: 1M x 100k bcast 8.6
    # CPU.s vs fused 6.7-6.9, 1M x 10k bcast 4.4 vs sql 2.9
    assert choose_plan(10_000_000, 300_000_000, rmax=5.0) == "bcast"
    # beyond both budgets: fused, the one plan that broadcasts nothing.
    # Warm calls (local[4], noop sink, 7 alternated calls, CPU.s
    # medians) cost sql/fused 4.42/2.78 at 600k x 60k uniform r_max 20
    # and 2.15/1.63 at 300k x 20k clustered; sql won only at 60k x 6k
    # (0.74/1.03), which the default budget keeps on dgrid
    assert choose_plan(60_000, 600_000, rmax=20.0, max_broadcast_bytes=0) == "fused"
    assert choose_plan(600_000, 6_000_000, rmax=20.0, max_broadcast_bytes=0) == "fused"
    assert choose_plan(600_000, 6_000_000, rmax=12.77, max_broadcast_bytes=0) == "fused"
    # a weight keeps dgrid (its grid carries int64 weights, r4) but
    # excludes bcast (count-only kernel): probe side fits, data side
    # doesn't -> fused
    assert choose_plan(60_000, 600_000, rmax=20.0, weighted=True) == "dgrid"
    assert choose_plan(10_000_000, 300_000_000, rmax=5.0) == "bcast"
    assert choose_plan(10_000_000, 300_000_000, rmax=5.0,
                       weighted=True) == "fused"
    # each broadcast payload is priced on the grid its plan runs: dgrid
    # on r_max/2 cells, 100^3 at r_max 20 = 4 MB of CSR offsets, which
    # with 2.8 MB of particles overflows 4 MiB; bcast on r_max cells,
    # 50^3 = 0.5 MB of offsets, which 10k halos (0.4 MB) fit beside
    # and 100k halos (4 MB) do not; an explicit ncells is what runs
    budget = dict(max_broadcast_bytes=4 << 20)
    assert choose_plan(10_000, 100_000, 20.0, **budget) == "bcast"
    assert choose_plan(100_000, 100_000, 20.0, **budget) == "fused"
    assert choose_plan(10_000, 100_000, 20.0, ncells=50, **budget) == "dgrid"


def test_unknown_plan_raises(spark):
    halos = _df_points(spark, PB_HALOS, id_col="halo_id")
    with pytest.raises(ValueError, match="unknown plan 'dgird'"):
        shell_count(halos, _df_points(spark, PB_PARTICLES), [1.0], plan="dgird")


def test_plan_auto_matches_sql(spark):
    P = synth_points_np(800, seed=4)
    H = synth_points_np(40, seed=1004)
    edges = logspace_edges(10.0, 300.0, 8)
    got = _run(spark, H, P, edges, "auto")
    want = _run(spark, H, P, edges, "sql")
    assert got.tolist() == want.tolist()


def test_plan_auto_logs_one_decision(spark, caplog):
    """plan='auto' logs its decision once, at INFO on the module logger:
    the particle count, the halos (not counted when the particle grid
    fits), both payload estimates, the budget, weighted and the plan."""
    import logging

    log = "spatialjoincountovershells_spark.operators.shell_count"
    halos = _df_points(spark, synth_points_np(40, seed=1004), id_col="halo_id")
    parts = _df_points(spark, synth_points_np(800, seed=4))
    with caplog.at_level(logging.INFO, logger=log):
        shell_count(halos, parts, logspace_edges(10.0, 300.0, 8), plan="auto")
    recs = [r for r in caplog.records if r.name == log]
    assert len(recs) == 1 and recs[0].levelno == logging.INFO
    msg = recs[0].getMessage()
    assert msg.endswith("-> dgrid"), msg
    assert "800 particles, halos not needed" in msg
    assert f"budget {512 << 20} B, weighted=False" in msg


def test_self_join_autocorr_counts(spark):
    """shell_count with the same table on both sides (DD(r) estimator):
    raw ordered pair counts match the numpy oracle, and every point's
    d=0 self-pair lands in shell 0 (the premise that lets
    q_autocorr_shells subtract exactly N from shell 0)."""
    rng = np.random.default_rng(3)
    P = rng.uniform(0, 1000.0, size=(300, 3)).astype(np.float32)
    edges = logspace_edges(40.0, 320.0, 4)
    want = oracle_shell_counts(P, P, squared_edges(edges))
    assert (want[:, 0] >= 1).all(), "self-pair must bin to shell 0"
    parts = _df_points(spark, P)
    halos = _df_points(spark, P, id_col="halo_id")
    got = shell_count(halos, parts, edges, plan="sql", id_col="halo_id")
    rows = [(r.halo_id, r.shell_idx, r.cnt) for r in got.collect()]
    dense = dense_from_long(rows, len(P), len(edges))
    assert dense.tolist() == want.tolist()


def _block_edge_points(rng, nb: int, rmax: float):
    """Halos within r_max of a face, an edge or a corner of plan
    'fused''s nb-per-axis block grid, five of each inside the box and
    five across its periodic wrap, with particles scattered within
    r_max of every halo; the last halo sits in a hot block of 400 more
    particles."""
    bs = 1000.0 / nb
    H = []
    for n_axes in (1, 2, 3):  # face, edge, corner
        for wrap in (False, True):
            for _ in range(5):
                h = (rng.integers(0, nb, 3) + 0.5) * bs  # a block centre
                ax = rng.choice(3, n_axes, replace=False)
                face = 0 if wrap else rng.integers(1, nb, n_axes)
                h[ax] = face * bs + rng.choice([-1.0, 1.0], n_axes) * rng.uniform(
                    0.5, 0.9 * rmax, n_axes)
                H.append(h % 1000.0)
    H.append(np.full(3, 1.5 * bs))
    H = np.array(H)
    near = np.repeat(H, 20, axis=0) + rng.uniform(-rmax, rmax, (20 * len(H), 3))
    hot = H[-1] + rng.normal(0, rmax / 4, (400, 3))
    return H, np.vstack([near, hot]) % 1000.0


@pytest.mark.parametrize("plan", ["sql", "fused", "dgrid"])
def test_weighted_shell_sums(spark, plan):
    """weight_col: per-(halo, shell) integer weight sums (mass-weighted
    radial profiles) match a float64 min-image brute force exactly, and
    cnt stays identical to the unweighted run.  Two inputs: uniform
    points, and halos at the faces, edges and corners of fused's
    blocks (>= 3 per axis) inside the box and across its wrap, with a
    hot block."""
    from spatialjoincountovershells_spark.operators.shell_count import _plan_grid

    rng = np.random.default_rng(8)
    H = rng.uniform(0, 1000.0, size=(60, 3))
    P = rng.uniform(0, 1000.0, size=(500, 3))
    cases = [(H, P, rng.integers(0, 1000, size=len(P)),
              logspace_edges(30.0, 240.0, 4))]
    nb, _ = _plan_grid("fused", 40.0, 1000.0, 1000,
                       blocks_for=spark.sparkContext.defaultParallelism)
    assert nb >= 3
    H, P = _block_edge_points(rng, nb, 40.0)
    cases.append((H, P, rng.integers(0, 1000, size=len(P)),
                  logspace_edges(2.0, 40.0, 4)))
    for H, P, w, edges in cases:
        r2 = squared_edges(edges).astype(np.float64)
        # float64 min-image brute force with exact integer weight sums
        d = np.abs(H[:, None, :] - P[None, :, :])
        d = np.minimum(d, 1000.0 - d)
        d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
        sh = np.searchsorted(r2, d2.ravel(), side="right").reshape(len(H), len(P))
        # in-range pairs really cross block faces, and the box wrap
        near = sh < len(r2)
        blk = np.floor(H / (1000.0 / nb))[:, None] != np.floor(P / (1000.0 / nb))
        assert (near & blk.any(axis=-1)).any()
        assert (near & (np.abs(H[:, None] - P) > 500.0).any(axis=-1)).any()
        want_c = np.zeros((len(H), len(r2)), dtype=np.int64)
        want_w = np.zeros((len(H), len(r2)), dtype=np.int64)
        for hi in range(len(H)):
            for pi in range(len(P)):
                s = sh[hi, pi]
                if s < len(r2):
                    want_c[hi, s] += 1
                    want_w[hi, s] += w[pi]
        halos = spark.createDataFrame(
            [(i, float(x), float(y), float(z)) for i, (x, y, z) in enumerate(H)],
            "halo_id long, x double, y double, z double",
        )
        parts = spark.createDataFrame(
            [(float(x), float(y), float(z), int(wi)) for (x, y, z), wi in zip(P, w)],
            "x double, y double, z double, w long",
        )
        got = shell_count(halos, parts, edges, dtype="float64", plan=plan,
                          id_col="halo_id", weight_col="w")
        gc = np.zeros_like(want_c)
        gw = np.zeros_like(want_w)
        for r in got.collect():
            gc[r.halo_id, r.shell_idx] = r.cnt
            gw[r.halo_id, r.shell_idx] = r.wsum
        assert gc.tolist() == want_c.tolist()
        assert gw.tolist() == want_w.tolist()


def test_weight_col_rejected_on_bcast_plan(spark):
    from pyspark.sql import functions as F

    halos = _df_points(spark, PB_HALOS, id_col="halo_id")
    parts = _df_points(spark, PB_PARTICLES).withColumn("w", F.lit(1))
    with pytest.raises(ValueError, match="unit counts only"):
        shell_count(halos, parts, logspace_edges(1.0, 60.0, 6),
                    plan="bcast", weight_col="w")


@pytest.mark.parametrize("ls_plan", ["sql", "fused"])
def test_landy_szalay_xi_vs_bruteforce(spark, ls_plan):
    """LS estimator composition: DD/DR/RR totals and the quantized xi
    match an exact f64 brute force replicating the same IEEE tree —
    on the codegen join plan AND a numpy-kernel plan (which must honor
    the f64 dtype default; f32 would bin edge-adjacent pairs off)."""
    from spatialjoincountovershells_spark.operators.correlation import (
        XI_QUANT,
        landy_szalay_xi,
    )

    rng = np.random.default_rng(12)
    D = rng.uniform(0, 1000.0, size=(120, 3))
    R = rng.uniform(0, 1000.0, size=(150, 3))
    edges = logspace_edges(60.0, 400.0, 4)
    r2 = squared_edges(edges).astype(np.float64)

    def totals(A, B, self_join):
        d = np.abs(A[:, None, :] - B[None, :, :])
        d = np.minimum(d, 1000.0 - d)
        d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
        sh = np.searchsorted(r2, d2.ravel(), side="right")
        t = np.bincount(sh[sh < len(r2)], minlength=len(r2)).astype(np.int64)
        if self_join:
            t[0] -= len(A)  # d=0 self-pairs all bin to shell 0
        return t

    dd, dr, rr = totals(D, D, True), totals(D, R, False), totals(R, R, True)
    nd, nr_ = len(D), len(R)
    want = {}
    for s in range(len(r2)):
        if rr[s] <= 0:
            continue
        ddn = dd[s] / (float(nd) * (nd - 1))
        drn = dr[s] / (float(nd) * nr_)
        rrn = rr[s] / (float(nr_) * (nr_ - 1))
        want[s] = (int(dd[s]), int(dr[s]), int(rr[s]),
                   int(np.floor((ddn - 2.0 * drn + rrn) / rrn * XI_QUANT)))
    mk = lambda A: spark.createDataFrame(  # noqa: E731
        [(float(x), float(y), float(z)) for x, y, z in A],
        "x double, y double, z double",
    )
    out = landy_szalay_xi(mk(D), mk(R), edges, plan=ls_plan)
    got = {r.shell_idx: (r.dd, r.dr, r.rr, r.xi_q) for r in out.collect()}
    assert got == want


@pytest.mark.parametrize("rk_plan", ["sql", "fused", "dgrid"])
def test_ripley_k_vs_bruteforce(spark, rk_plan):
    """Ripley's K: cumulative pair counts and the quantized K match an
    exact f64 brute force with the same IEEE tree; empty leading
    shells still emit rows (cum defined everywhere)."""
    from spatialjoincountovershells_spark.operators.correlation import ripley_k

    rng = np.random.default_rng(7)
    D = rng.uniform(0, 1000.0, size=(150, 3))
    # edges[0] tiny: shell 0 has no pairs after self-subtraction,
    # exercising the empty-shell row contract
    edges = np.array([0.5, 120.0, 250.0, 400.0])
    r2 = squared_edges(edges).astype(np.float64)
    d = np.abs(D[:, None, :] - D[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    sh = np.searchsorted(r2, d2.ravel(), side="right")
    t = np.bincount(sh[sh < len(r2)], minlength=len(r2)).astype(np.int64)
    t[0] -= len(D)
    cum = np.cumsum(t)
    n = len(D)
    want = {
        s: (int(cum[s]),
            int(np.floor((float(cum[s]) * 1000.0 ** 3)
                         / float(n * (n - 1)) * 1024.0)))
        for s in range(len(edges))
    }
    assert t[0] == 0  # scenario really has an empty first shell
    df = spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in D],
        "x double, y double, z double",
    )
    out = ripley_k(df, edges, plan=rk_plan)
    got = {r.shell_idx: (r.cum_pairs, r.k_q10) for r in out.collect()}
    assert got == want


def test_cross_k_vs_bruteforce(spark):
    """Bivariate K: cross pairs (no self subtraction), normalizer
    n_a * n_b; a clustered B-around-A layout gives K far above the
    CSR ball volume at small r."""
    from spatialjoincountovershells_spark.operators.correlation import ripley_k

    rng = np.random.default_rng(11)
    A = rng.uniform(0, 1000.0, size=(40, 3))
    # B: 5 points tightly around each A point -> strong cross-clustering
    B = (A[:, None, :] + rng.normal(0, 3.0, size=(40, 5, 3))).reshape(-1, 3) % 1000.0
    edges = np.array([10.0, 50.0, 200.0])
    r2 = squared_edges(edges).astype(np.float64)
    d = np.abs(A[:, None, :] - B[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    sh = np.searchsorted(r2, d2.ravel(), side="right")
    t = np.bincount(sh[sh < len(r2)], minlength=len(r2)).astype(np.int64)
    cum = np.cumsum(t)
    nn = len(A) * len(B)
    want = {
        s: (int(cum[s]),
            int(np.floor((float(cum[s]) * 1000.0 ** 3) / float(nn) * 1024.0)))
        for s in range(len(edges))
    }
    assert cum[0] >= len(A) * 4  # the clustering really is in shell 0
    mk = lambda P: spark.createDataFrame(  # noqa: E731
        [(float(x), float(y), float(z)) for x, y, z in P],
        "x double, y double, z double",
    )
    out = ripley_k(mk(A), edges, other=mk(B))
    got = {r.shell_idx: (r.cum_pairs, r.k_q10) for r in out.collect()}
    assert got == want
    # CSR expectation at r=10: V_ball/V_box * nn ~ 0.0042 * nn; the
    # planted clustering exceeds it by orders of magnitude
    assert got[0][1] > 100 * np.floor(4.0 / 3.0 * np.pi * 10.0 ** 3 * 1.024)


@pytest.mark.parametrize("nn_plan", ["sql", "dgrid"])
@pytest.mark.parametrize("mode", ["g", "f"])
def test_nn_dist_cdf_vs_bruteforce(spark, mode, nn_plan):
    """G/F nearest-neighbour CDFs: per-probe periodic 1-NN min,
    censored beyond edges[-1], exact integer-DIV ppm.  Sparse-enough
    layout that some probes ARE censored (the contract's tail case)."""
    from spatialjoincountovershells_spark.operators.correlation import (
        nn_dist_cdf,
    )

    rng = np.random.default_rng(13)
    P = rng.uniform(0, 1000.0, size=(120, 3))
    R = rng.uniform(0, 1000.0, size=(50, 3))
    edges = np.array([5.0, 40.0, 150.0])
    probes, data, excl_diag = (P, P, True) if mode == "g" else (R, P, False)
    d = np.abs(probes[:, None, :] - data[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    if excl_diag:
        np.fill_diagonal(d2, np.inf)
    mn = d2.min(axis=1)
    r2 = squared_edges(edges).astype(np.float64)
    n = len(probes)
    cum = [int((mn < e).sum()) for e in r2]
    assert cum[-1] < n  # censoring really happens
    assert cum[0] >= 0 and cum[-1] > 0
    want = {s: (cum[s], cum[s] * 1_000_000 // n) for s in range(len(edges))}
    mk = lambda A, with_id: spark.createDataFrame(  # noqa: E731
        [(i, float(x), float(y), float(z)) for i, (x, y, z) in enumerate(A)],
        "pid long, x double, y double, z double",
    ) if with_id else spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in A],
        "x double, y double, z double",
    )
    if mode == "g":
        out = nn_dist_cdf(mk(P, True), edges, id_col="pid", plan=nn_plan)
    else:
        out = nn_dist_cdf(mk(P, False), edges, ref=mk(R, False),
                          plan=nn_plan)
    got = {r.shell_idx: (r.n_lt, r.g_ppm) for r in out.collect()}
    assert got == want


def test_nn_dist_cdf_requires_id_in_self_mode(spark):
    from spatialjoincountovershells_spark.operators.correlation import (
        nn_dist_cdf,
    )

    df = spark.createDataFrame([(1.0, 2.0, 3.0)], "x double, y double, z double")
    with pytest.raises(ValueError, match="id_col"):
        nn_dist_cdf(df, np.array([10.0]))


# --------------------------------------------- explicit sub-rmax grids


@pytest.mark.parametrize("m", [1, 2, 3])
def test_explicit_grid_matches_oracle(spark, m):
    """An explicit grid of cells rmax/m — ring depth m from the grid
    rule, plus the Euclidean prune — is answer-invariant vs the numpy
    oracle on every plan and on range_join_pairs, including wrap-heavy
    radii."""
    from spatialjoincountovershells_spark.operators.shell_count import (
        range_join_pairs,
    )

    P = synth_points_np(800, seed=7)
    H = synth_points_np(40, seed=1007)
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P, id_col="particle_id")
    for spec in [(0.5, 60.0, 6), (10.0, 300.0, 5)]:
        edges = logspace_edges(*spec)
        nc = int(1000.0 / (float(edges[-1]) / m))
        want = oracle_shell_counts(H, P, squared_edges(edges))
        for plan in ("sql", "fused", "dgrid", "bcast"):
            res = shell_count(halos, parts, edges, plan=plan, ncells=nc)
            rows = [(r.halo_id, r.shell_idx, r.cnt) for r in res.collect()]
            got = dense_from_long(rows, len(H), len(edges))
            assert got.tolist() == want.tolist(), plan
        pairs = range_join_pairs(halos, parts, float(edges[-1]), ncells=nc)
        rows = [(r.halo_id, r.particle_id) for r in pairs.collect()]
        assert len(set(rows)) == len(rows)
        per_halo = np.bincount([h for h, _ in rows], minlength=len(H))
        assert per_halo.tolist() == want.sum(axis=1).tolist()


def test_explode_ring_k_prune_covers_and_is_tight(spark):
    """Ring-k explode with the per-row Euclidean prune (a) never drops a
    cell that holds an in-radius point (covering), (b) keeps strictly
    fewer rows than the unpruned ring (tight), at k = 2 and 3."""
    from spatialjoincountovershells_spark.operators.cells import (
        explode_ring,
        with_cell,
    )

    box, rmax = 1000.0, 90.0
    P = synth_points_np(600, seed=3)
    H = synth_points_np(25, seed=1003)
    d = np.abs(H[:, None, :].astype(np.float64) - P[None, :, :].astype(np.float64))
    d = np.minimum(d, box - d)
    d2 = (d[..., 0] ** 2 + d[..., 1] ** 2) + d[..., 2] ** 2
    true_pairs = {(i, j) for i, j in zip(*np.nonzero(d2 < rmax**2))}
    parts = _df_points(spark, P).selectExpr(
        "x as _px", "y as _py", "z as _pz",
    )
    for k in (2, 3):
        nc = int(box / (rmax / k))  # sub-rmax cells
        assert nc >= 2 * k + 1
        h = _df_points(spark, H, id_col="halo_id").selectExpr(
            "halo_id", "x as _hx", "y as _hy", "z as _hz")
        pruned = explode_ring(h, nc, box, cols=("_hx", "_hy", "_hz"),
                              k=k, prune_radius=rmax)
        unpruned = explode_ring(h, nc, box, cols=("_hx", "_hy", "_hz"), k=k)
        n_pruned, n_unpruned = pruned.count(), unpruned.count()
        assert n_pruned < n_unpruned  # the prune actually bites
        pc = with_cell(parts, nc, box, cols=("_px", "_py", "_pz"))
        # covering: every true in-radius pair survives as a candidate
        # (particles mapped back by their coords — ids would be
        # partition-dependent via monotonically_increasing_id)
        cand = pruned.join(pc, "cell_id").selectExpr(
            "halo_id", "_px", "_py", "_pz").collect()
        key = {(round(float(x), 3), round(float(y), 3), round(float(z), 3)): i
               for i, (x, y, z) in enumerate(P.tolist())}
        got = {(r.halo_id, key[(round(r._px, 3), round(r._py, 3), round(r._pz, 3))])
               for r in cand}
        assert true_pairs <= got


def test_manual_sql_grid_matches_auto_grid_on_sparse_data(spark):
    """VERDICT r3 #6: an explicit plan='sql' call WITH a row-count
    estimate must execute on the occupancy-capped grid ``_plan_grid``
    gives sql — on sparse data the cbrt(n) cap binds, not the rmax
    cap."""
    from spatialjoincountovershells_spark.operators.cells import grid_ncells
    from spatialjoincountovershells_spark.operators.shell_count import _prep

    n_sparse = 1000  # cbrt = 10 << 1000/rmax = 200 at rmax 5
    edges = np.array([5.0], dtype=np.float32)
    H = synth_points_np(20, seed=5)
    P = synth_points_np(n_sparse, seed=6)
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P)
    _, _, nc_manual, _ = _prep(
        halos, parts, edges, 1000.0, "halo_id",
        ("x", "y", "z"), ("x", "y", "z"), None, n_hint=n_sparse,
    )
    assert nc_manual == grid_ncells(5.0, 1000.0, n_hint=n_sparse) == 10
    # and without the hint the old (over-fine) grid would have been used
    _, _, nc_nohint, _ = _prep(
        halos, parts, edges, 1000.0, "halo_id",
        ("x", "y", "z"), ("x", "y", "z"), None,
    )
    assert nc_nohint == 200


@pytest.mark.parametrize("plan", ["sql", "fused"])
def test_join_plan_build_py4j_budget(spark, plan, monkeypatch):
    """Building a cell-grid join plan is a fixed handful of py4j round
    trips: its row expressions are SQL text, one call per projection,
    not one Column call (~10 round trips) per literal and operator —
    about 7,600 per call for the 27-offset, 40-shell sql plan."""
    import gc
    import time

    import py4j.clientserver as cs

    halos = _df_points(spark, synth_points_np(50, seed=1), id_col="halo_id")
    parts = _df_points(spark, synth_points_np(200, seed=2))
    edges = logspace_edges(10.0 / 5000, 10.0, 40)

    def build():
        # the estimates size a 67-cell grid: full pruned 27-offset ring
        return shell_count(halos, parts, edges, plan=plan,
                           n_halos_est=20_000, n_particles_est=300_000)

    client = spark.sparkContext._gateway._gateway_client

    def settle():
        # freed proxies' GC commands go out on py4j's finalizer thread:
        # collect, then let that queue drain, so earlier tests' garbage
        # is not counted and this build's own garbage is
        gc.collect()
        deadline = time.monotonic() + 30
        while client.finalizer_deque and time.monotonic() < deadline:
            time.sleep(0.01)
        time.sleep(0.1)

    build()
    settle()
    n = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    build()
    settle()
    assert 0 < n[0] <= 500


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_shell_index_expr_literals_exact(spark, dtype):
    """The CASE tree's text literals decide exactly like the numpy
    first-match bin: d2 on every squared edge lands in the next shell
    (strict <), one ulp below stays in it."""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.functions.shells import (
        shell_index_expr,
        shell_index_np,
    )
    from spatialjoincountovershells_spark.functions.sqltext import dlit

    rmax = 12.7718
    r2 = squared_edges(logspace_edges(rmax / 5000, rmax, 40, dtype=dtype))
    d2 = np.concatenate([r2, np.nextafter(r2, np.zeros_like(r2)), [0.0]])
    d2 = d2.astype(r2.dtype)
    sql_t = "float" if dtype == "float32" else "double"
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(d2)], f"i long, d2 {sql_t}")
    got = {r.i: r.shell_idx for r in df.selectExpr(
        "i", f"{shell_index_expr('d2', r2)} AS shell_idx").collect()}
    want = shell_index_np(d2, r2)
    assert [len(r2) if got[i] is None else got[i]
            for i in range(len(d2))] == want.tolist()
    # dlit round-trips the extremes of the double range and the sign of 0
    vals = [5e-324, 1.7976931348623157e308, -0.0, float(r2[-1])]
    row = spark.range(1).select(
        *[F.expr(dlit(v)).alias(f"v{i}") for i, v in enumerate(vals)]).first()
    back = [row[f"v{i}"] for i in range(len(vals))]
    assert back == vals
    assert np.signbit(back[2])


def test_cell_grid_builders_quote_column_names(spark):
    """Coordinate names that only parse backtick-quoted (a dot, a
    space, a backtick) work through with_cell, explode_ring and the sql
    shell plan, with the same answers as plain names."""
    from spatialjoincountovershells_spark.operators.cells import (
        explode_ring,
        with_cell,
    )

    odd = ("pos.x", "pos y", "p`z")
    H = synth_points_np(40, seed=11)
    P = synth_points_np(1500, seed=12)
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P)
    halos_q = halos.toDF("halo_id", *odd)
    parts_q = parts.toDF(*odd)
    nc, box = 9, 1000.0

    cs = box / nc
    ax = np.clip(np.floor(P.astype(np.float64) / cs), 0, nc - 1).astype(np.int64)
    want_cells = (ax[:, 0] * nc + ax[:, 1]) * nc + ax[:, 2]
    got_cells = [r.cell_id for r in
                 with_cell(parts_q, nc, box, cols=odd).collect()]
    assert got_cells == want_cells.tolist()

    def ring(df, cols):
        out = explode_ring(df, nc, box, cols=cols, prune_radius=60.0)
        return sorted((r.halo_id, r.cell_id)
                      for r in out.select("halo_id", "cell_id").collect())

    assert ring(halos_q, odd) == ring(halos, ("x", "y", "z"))

    edges = logspace_edges(2.0, 60.0, 10)
    res = shell_count(halos_q, parts_q, edges, plan="sql",
                      h_coords=odd, p_coords=odd)
    got = dense_from_long(
        [(r.halo_id, r.shell_idx, r.cnt) for r in res.collect()],
        len(H), len(edges))
    want = oracle_shell_counts(H, P, squared_edges(edges))
    assert got.tolist() == want.tolist() and want.sum() > 0


def _parquet_points(spark, tmp_path, n, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spatialjoincountovershells_spark import decode_phash
    from spatialjoincountovershells_spark.functions.phash import encode_phash_np

    P = synth_points_np(n, seed=seed)
    d = tmp_path / f"pts{seed}"
    d.mkdir()
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        pq.write_table(pa.table({"id": part.astype(np.int64),
                                 "phash": encode_phash_np(P[part])}),
                       d / f"part-{i}.parquet")
    return decode_phash(spark.read.parquet(str(d)))


def test_row_bound_reads_parquet_footers_without_a_job(spark, tmp_path):
    """A parquet scan under projects is bounded from the files' footers:
    exact, and neither the bound nor building plan='auto'/'fused' over
    such inputs (which bound both sides) starts a Spark job."""
    from spatialjoincountovershells_spark.sources.tableio import count_rows

    parts = _parquet_points(spark, tmp_path, 5000, seed=21)
    halos = _parquet_points(spark, tmp_path, 300, seed=22).withColumnRenamed(
        "id", "halo_id")
    edges = logspace_edges(1.0, 40.0, 6)

    def bound_and_build():
        assert count_rows(parts.select("x", "y", "z"), exact=False) == 5000
        assert count_rows(halos, exact=False) == 300
        # plan='auto' with a broadcast-budget miss would collect; fused
        # builds lazily, so it shows the bound's cost alone
        shell_count(halos, parts, edges, plan="fused")

    _, jobs = jobs_in_group(spark, "row_bound", bound_and_build)
    assert jobs == 0


def test_row_bound_counts_when_rows_can_grow(spark, tmp_path):
    """An explode can add rows, so the bound falls back to count(); a
    filter cannot, so the footers' total bounds it from above and
    choose_plan picks the same plan from it as from the true count."""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.operators.shell_count import choose_plan
    from spatialjoincountovershells_spark.sources.tableio import count_rows

    parts = _parquet_points(spark, tmp_path, 4000, seed=23)
    exploded = parts.withColumn("k", F.explode(F.array(F.lit(1), F.lit(2))))
    assert count_rows(exploded, exact=False) == exploded.count() == 8000
    filtered = parts.where("x < 300")
    n = filtered.count()
    bound = count_rows(filtered, exact=False)
    assert 0 < n < bound == 4000
    for budget in (512 << 20, 100_000, 0):
        assert (choose_plan(300, bound, 40.0, max_broadcast_bytes=budget)
                == choose_plan(300, n, 40.0, max_broadcast_bytes=budget))


def test_dgrid_on_a_shuffled_halo_side_builds_in_one_job(spark):
    """dgrid's `spread` never asks a halo side that holds a shuffle for
    its partition count (``.rdd`` would run that shuffle as a hidden
    job): building the plan starts exactly one job, the particle grid's
    collect, and the counts equal the brute force."""
    from pyspark.sql import functions as F

    P = synth_points_np(3000, seed=31)
    H = synth_points_np(2000, seed=32)
    one = _df_points(spark, H, id_col="halo_id")
    # every halo twice, merged back by the groupBy's shuffle
    halos = one.union(one).groupBy("halo_id").agg(
        *(F.min(c).alias(c) for c in "xyz"))
    edges = logspace_edges(1.0, 60.0, 6)
    res, jobs = jobs_in_group(spark, "dgrid_build", lambda: shell_count(
        halos, _df_points(spark, P), edges, plan="dgrid"))
    assert jobs == 1
    got = dense_from_long([(r.halo_id, r.shell_idx, r.cnt)
                           for r in res.collect()], len(H), len(edges))
    assert got.tolist() == oracle_shell_counts(
        H, P, squared_edges(edges)).tolist()
