"""The brute-force oracle agrees with the engine on a tiny periodic input.

The grids are at least 3 cells per axis, so the ring explode, the
periodic wrap and the Euclidean ring prune all run; three halos sit in
box corners, where every ring wraps.
"""

import numpy as np
import pandas as pd
import pytest

import gen
import oracle

BOX = 1000.0
SHAPE = {"kind": "clustered", "n_particles": 4000, "n_halos": 150,
         "blobs_per_axis": 2, "sigma": 40.0, "floor_frac": 0.4,
         "halo_sigma": 10.0, "halo_floor_frac": 0.3}


@pytest.fixture(scope="module")
def tiny():
    pq, hq = gen.make_tables(7, SHAPE)
    corners = np.array([[0, 0, 0], [65535, 65535, 65535], [0, 65535, 100]],
                       dtype=np.int64)
    return pq, np.concatenate([hq, corners])


def _frames(spark, pq, hq):
    from spatialjoincountovershells_spark import decode_phash

    def table(q, id_col):
        pdf = pd.DataFrame({"id": np.arange(len(q), dtype=np.int64),
                            "phash": gen.phash(q)})
        return decode_phash(spark.createDataFrame(pdf)).withColumnRenamed(
            "id", id_col)

    return table(hq, "halo_id"), table(pq, "particle_id")


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
def test_shell_oracle_matches_every_plan(spark, tiny, plan):
    from spatialjoincountovershells_spark import (
        grid_ncells,
        logspace_edges,
        shell_count,
    )

    pq, hq = tiny
    rmax = 120.0
    assert grid_ncells(rmax, BOX, n_hint=len(pq)) >= 3
    edges = logspace_edges(rmax / 5000, rmax, 12)
    halos, parts = _frames(spark, pq, hq)
    got = shell_count(halos, parts, edges, box=BOX, plan=plan).toPandas()
    e = edges.astype(np.float32)
    want = oracle.shell_counts(gen.positions_f32(hq), gen.positions_f32(pq),
                               e * e, BOX)
    assert want[:, :-1].sum() > 0 and want[-3:].sum() > 0
    assert oracle.check_shells(got, np.arange(len(hq)), want) is None


def test_knn_oracle_matches_engine(spark, tiny):
    from spatialjoincountovershells_spark import knn

    pq, hq = tiny
    halos, parts = _frames(spark, pq, hq)
    got = knn(halos, parts, k=5, box=BOX, ncells=8).toPandas()
    want = oracle.knn_ids(gen.positions_f32(hq), gen.positions_f32(pq),
                          np.arange(len(pq), dtype=np.int64), 5, BOX)
    assert oracle.check_knn(got, np.arange(len(hq)), want) is None


def test_checks_report_mismatches():
    sample = np.array([10, 11])
    want = np.array([[1, 0, 2], [0, 0, 0]])
    rows = pd.DataFrame({"halo_id": [10, 10], "shell_idx": [0, 2], "cnt": [1, 2]})
    assert oracle.check_shells(rows, sample, want) is None
    rows.loc[1, "cnt"] = 3
    assert "differ" in oracle.check_shells(rows, sample, want)

    top = np.array([[5, 3], [7, 1]])
    rows = pd.DataFrame({"halo_id": [10, 10, 11, 11], "particle_id": [5, 3, 7, 1],
                         "rank": [1, 2, 1, 2]})
    assert oracle.check_knn(rows, sample, top) is None
    rows.loc[3, "particle_id"] = 2
    assert "differ" in oracle.check_knn(rows, sample, top)


def test_generator_is_a_function_of_seed_and_row_id():
    a = gen.make_tables(3, SHAPE)
    b = gen.make_tables(3, SHAPE)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    bigger = gen.make_tables(3, dict(SHAPE, n_particles=2 * SHAPE["n_particles"]))
    assert np.array_equal(bigger[0][: SHAPE["n_particles"]], a[0])
    assert not np.array_equal(gen.make_tables(4, SHAPE)[0], a[0])
    assert a[0].min() >= 0 and a[0].max() < gen.QMAX


def test_positions_mirror_decode_phash():
    from spatialjoincountovershells_spark import decode_phash_np

    q = gen.uniform_q(1, 0, 1000)
    assert np.array_equal(gen.positions_f32(q), decode_phash_np(gen.phash(q)))
