"""Property tests for operators/clustering.py: point-level DBSCAN and
integer-lattice Lloyd k-means, each pinned against an independent
numpy brute-force mirror (the same three-engine discipline as
test_hash_ops / test_properties)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialjoincountovershells_spark.functions.phash import decode_phash
from spatialjoincountovershells_spark.operators.clustering import (
    dbscan_points,
    lloyd_kmeans,
    semantic_dedup,
)
from spatialjoincountovershells_spark.sources.synth import (
    synth_points,
    synth_points_np,
)

BOX = 1000.0


def _brute_dbscan(pos: np.ndarray, eps: float, min_pts: int):
    """Reference DBSCAN with the operator's deterministic labeling:
    clusters = CC of core-core graph labeled by min core id, border =
    min core-neighbor label, noise = -1.  Periodic min-image metric."""
    n = len(pos)
    d = np.abs(pos[:, None, :] - pos[None, :, :])
    d = np.minimum(d, BOX - d)
    d2 = (d ** 2).sum(axis=2)
    nbr = (d2 < eps * eps) & ~np.eye(n, dtype=bool)
    core = nbr.sum(axis=1) + 1 >= min_pts

    # union-find over core-core edges
    parent = np.arange(n)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in np.flatnonzero(core):
        for j in np.flatnonzero(nbr[i] & core):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)

    label = np.full(n, -1, dtype=np.int64)
    for i in np.flatnonzero(core):
        label[i] = find(i)
    for i in np.flatnonzero(~core):
        cn = np.flatnonzero(nbr[i] & core)
        if len(cn):
            label[i] = min(label[j] for j in cn)
    return label, core


@pytest.mark.parametrize("eps,min_pts", [(65.0, 4), (65.0, 1), (30.0, 3)])
def test_dbscan_matches_brute_force(spark, eps, min_pts):
    n, seed = 400, 44
    pts = decode_phash(
        synth_points(spark, n, seed=seed, id_col="point_id"), dtype="float64"
    )
    got = {
        r["point_id"]: (r["cluster_id"], r["is_core"])
        for r in dbscan_points(pts, eps=eps, min_pts=min_pts,
                               id_col="point_id").collect()
    }
    pos = synth_points_np(n, seed).astype(np.float64)
    label, core = _brute_dbscan(pos, eps, min_pts)
    assert len(got) == n
    for i in range(n):
        assert got[i] == (label[i], int(core[i])), f"point {i}"


def test_dbscan_min_pts_one_all_singleton_cores(spark):
    """eps below any pair distance + min_pts=1: every point is an
    isolated core, its own cluster, no borders, no noise."""
    n = 64
    pts = decode_phash(
        synth_points(spark, n, seed=7, id_col="point_id"), dtype="float64"
    )
    rows = dbscan_points(pts, eps=1e-6, min_pts=1, id_col="point_id").collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == r["point_id"] and r["is_core"] == 1
               for r in rows)


def test_dbscan_partition_independent(spark):
    pts = decode_phash(
        synth_points(spark, 300, seed=9, id_col="point_id"), dtype="float64"
    )
    a = sorted(map(tuple, dbscan_points(pts, 65.0, 4, id_col="point_id")
                   .collect()))
    b = sorted(map(tuple, dbscan_points(pts.repartition(13), 65.0, 4,
                                        id_col="point_id").collect()))
    assert a == b


def _brute_kmeans(vecs: np.ndarray, ids: np.ndarray, k: int, iters: int,
                  scale: int = 1024, return_cent: bool = False):
    """numpy mirror of lloyd_kmeans: int64 lattice, floor-mean update,
    (dist2, cl) tie-break, init = k smallest ids.  With return_cent,
    also yields the codebook the LAST assignment ran against."""
    q = np.floor(vecs.astype(np.float64) * scale).astype(np.int64)
    order = np.argsort(ids)
    cent = {j: q[order[j]].copy() for j in range(k)}
    assign = None
    for it in range(iters):
        cls = sorted(cent)
        d2 = np.stack(
            [((q - cent[j][None, :]) ** 2).sum(axis=1) for j in cls], axis=1
        )
        pick = d2.argmin(axis=1)  # argmin takes first on ties = smallest cl
        assign = {
            int(ids[i]): (int(cls[pick[i]]), int(d2[i, pick[i]]))
            for i in range(len(ids))
        }
        if it < iters - 1:
            cent = {}
            for j in set(cls[p] for p in pick):
                m = q[[cls[pick[i]] == j for i in range(len(ids))]]
                cent[j] = np.floor(m.sum(axis=0) / len(m)).astype(np.int64)
    return (assign, cent) if return_cent else assign


def test_kmeans_matches_brute_force(spark):
    rng = np.random.default_rng(3)
    n, dim, k = 120, 16, 5
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    rng.shuffle(ids)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist2"])
        for r in lloyd_kmeans(df, k=k, iters=3).collect()
    }
    want = _brute_kmeans(vecs, ids, k, iters=3)
    assert got == want


def test_semantic_dedup_matches_brute_force(spark):
    """Planted near-dup pairs: base vectors + tiny perturbations of
    earlier rows.  Check against a numpy mirror of the full contract
    (kmeans assign -> within-cluster pairs -> pinned cosine tree ->
    smaller-id drop rule)."""
    rng = np.random.default_rng(11)
    n, dim, k, tau = 90, 12, 4, 950_000
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    for i in range(60, 90):  # rows 60-89 = near-dups of rows 0-29
        vecs[i] = vecs[i - 60] + rng.normal(scale=1e-3, size=dim).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["keep"], r["dup_of"])
        for r in semantic_dedup(df, k=k, iters=2, min_sim_1e6=tau).collect()
    }

    asg = _brute_kmeans(vecs, ids, k, iters=2)
    q = np.floor(vecs.astype(np.float64) * 1024).astype(np.int64)
    want = {}
    n_drop = 0
    for i in range(n):
        cl = asg[i][0]
        dup_of = -1
        for j in range(i):
            if asg[j][0] != cl:
                continue
            dot = int((q[i] * q[j]).sum())
            na2, nb2 = int((q[i] ** 2).sum()), int((q[j] ** 2).sum())
            sim = 0 if na2 * nb2 == 0 else int(
                np.floor(dot / np.sqrt(float(na2 * nb2)) * 1e6)
            )
            if sim >= tau:
                dup_of = j
                break  # smallest j = min dup_of
        want[i] = (cl, 1 if dup_of < 0 else 0, dup_of)
        n_drop += dup_of >= 0
    assert n_drop >= 20, "planting failed to co-cluster"
    assert got == want


def test_kmeans_partition_independent(spark):
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, lloyd_kmeans(df, k=4, iters=2).collect()))
    b = sorted(map(tuple,
                   lloyd_kmeans(df.repartition(11), k=4, iters=2).collect()))
    assert a == b


def test_pq_encode_matches_brute_force(spark):
    """pq_encode vs the numpy Lloyd mirror run per subspace; total
    dist2 must be the sum of per-subspace quantization errors."""
    from spatialjoincountovershells_spark.operators.clustering import pq_encode

    rng = np.random.default_rng(17)
    n, dim, m, k = 100, 16, 4, 8
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    rng.shuffle(ids)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: tuple(r[f"code_{j}"] for j in range(m)) + (r["dist2"],)
        for r in pq_encode(df, m=m, k=k, iters=2, dim=dim).collect()
    }
    d = dim // m
    subs = [
        _brute_kmeans(vecs[:, j * d:(j + 1) * d], ids, k, iters=2)
        for j in range(m)
    ]
    want = {
        int(i): tuple(subs[j][int(i)][0] for j in range(m))
        + (sum(subs[j][int(i)][1] for j in range(m)),)
        for i in ids
    }
    assert got == want


def _brute_pq_ann(vecs, ids, m, k, iters, k_nn, scale=1024):
    """numpy ADC mirror: per-subspace Lloyd codes + codebooks, lookup
    distances from QUERY slice to the NEIGHBOR's codeword, top-k by
    (adc, neighbor_id)."""
    n, dim = vecs.shape
    d = dim // m
    q = np.floor(vecs.astype(np.float64) * scale).astype(np.int64)
    parts = [
        _brute_kmeans(vecs[:, j * d:(j + 1) * d], ids, k, iters,
                      scale=scale, return_cent=True)
        for j in range(m)
    ]
    pos = {int(i): r for r, i in enumerate(ids)}
    out = {}
    for qi in ids:
        cands = []
        for ni in ids:
            if ni == qi:
                continue
            adc = 0
            for j, (asg, cent) in enumerate(parts):
                code = asg[int(ni)][0]
                qs = q[pos[int(qi)], j * d:(j + 1) * d]
                adc += int(((qs - cent[code]) ** 2).sum())
            cands.append((adc, int(ni)))
        cands.sort()
        out[int(qi)] = [
            (int(ni), r + 1, adc) for r, (adc, ni) in enumerate(cands[:k_nn])
        ]
    return out


def test_pq_ann_matches_brute_force(spark):
    from spatialjoincountovershells_spark.operators.clustering import pq_ann_topk

    rng = np.random.default_rng(23)
    n, dim, m, k, k_nn = 80, 16, 4, 8, 3
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    rng.shuffle(ids)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {}
    for r in pq_ann_topk(df, k_nn=k_nn, m=m, k=k, iters=2, dim=dim).collect():
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["rank"], r["adc_d2"])
        )
    for v in got.values():
        v.sort(key=lambda t: t[1])
    want = _brute_pq_ann(vecs, ids, m, k, iters=2, k_nn=k_nn)
    assert got == want


def test_pq_ann_ivf_candidates_subset(spark):
    """candidates= route: with the all-pairs candidate set the output
    is identical to exhaustive ADC; with IVF candidates every emitted
    (query, neighbor) pair carries the same adc_d2 as exhaustive and
    per-query at most k_nn rows."""
    from spatialjoincountovershells_spark.operators.clustering import pq_ann_topk
    from spatialjoincountovershells_spark.operators.similarity import (
        ivf_candidates,
    )

    rng = np.random.default_rng(29)
    n, dim, m, k, k_nn = 60, 16, 4, 8, 3
    rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    ex = sorted(map(tuple, pq_ann_topk(df, k_nn=k_nn, m=m, k=k, iters=2,
                                       dim=dim).collect()))
    allp = spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(n) if a != b],
        "query_id long, neighbor_id long",
    )
    via_all = sorted(map(tuple, pq_ann_topk(
        df, k_nn=k_nn, m=m, k=k, iters=2, dim=dim, candidates=allp
    ).collect()))
    assert via_all == ex

    cands = ivf_candidates(df, n_centroids=8, n_probe=2)
    via_ivf = pq_ann_topk(df, k_nn=k_nn, m=m, k=k, iters=2, dim=dim,
                          candidates=cands).collect()
    ex_adc = {(q, nb): d for (q, nb, _, d) in ex}
    # exhaustive adc for ALL pairs (recompute via rank-free route):
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_d2"]
        for r in pq_ann_topk(df, k_nn=n, m=m, k=k, iters=2, dim=dim).collect()
    }
    per_q = {}
    for r in via_ivf:
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_d2"]
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert per_q and max(per_q.values()) <= k_nn


def test_pq_ann_exhaustive_guard(spark, tmp_path):
    """Without candidates=, pq_ann_topk above the row limit must refuse
    (the O(n^2) cross join is an explicit opt-in), and exhaustive=True
    must override; with candidates= no count/guard runs at all.  The
    refusal sizes the corpus from metadata with no Spark job (a Range,
    a parquet scan's footers), else with a count bounded at the limit."""
    import pytest as _pytest

    from fixtures import jobs_in_group
    from spatialjoincountovershells_spark.operators.clustering import pq_ann_topk

    df = spark.range(30).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 8), i -> cast(pmod(id * i, 7) as double)) as embedding",
    )
    df.write.parquet(str(tmp_path / "emb"))

    def refuse(emb):
        with _pytest.raises(ValueError, match="ivf_candidates") as e:
            pq_ann_topk(emb, k_nn=2, m=2, k=4, iters=1, dim=8,
                        exhaustive_limit=10)
        return str(e.value)

    for case, emb in (("range", df),
                      ("parquet", spark.read.parquet(str(tmp_path / "emb")))):
        msg, jobs = jobs_in_group(spark, case, lambda: refuse(emb))
        assert jobs == 0 and "(30 corpus rows" in msg
    assert "(more than 10 corpus rows)" in refuse(df.union(df))
    out = pq_ann_topk(df, k_nn=2, m=2, k=4, iters=1, dim=8,
                      exhaustive_limit=10, exhaustive=True)
    assert out.count() > 0
