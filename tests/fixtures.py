"""Shared fixture data: the TestData4PB golden set + numpy oracle.

The periodic-boundary fixture is ported from the reference's
``TestData4PB/`` (FIXTURES.md §4): 8 particles at cube corners with
coords in {0, 999}, 2 halos at (0,0,0) and (999,999,999).  Under
mod-1000 wrap every particle is at distance 0 (x1), 1 (x3), sqrt2 (x3)
or sqrt3 (x1) from each halo.
"""

import itertools

import numpy as np

from spatialjoincountovershells_spark.functions.shells import shell_index_np

PB_PARTICLES = np.array(
    [
        [0, 0, 0],
        [999, 0, 0],
        [999, 999, 0],
        [999, 999, 999],
        [999, 0, 999],
        [0, 999, 0],
        [0, 999, 999],
        [0, 0, 999],
    ],
    dtype=np.float32,
)

PB_HALOS = np.array([[0, 0, 0], [999, 999, 999]], dtype=np.float32)


def oracle_shell_counts(
    H: np.ndarray, P: np.ndarray, r2_edges: np.ndarray, box: float = 1000.0
) -> np.ndarray:
    """Dense (nhalos, nshells) counts via subset-enumerated shifted images,
    float32, exactly as the reference (MultiRangeCount.c:13-73)."""
    H = np.asarray(H, dtype=np.float32)
    P = np.asarray(P, dtype=np.float32)
    r2 = np.asarray(r2_edges, dtype=np.float32)
    rmax = np.float32(np.sqrt(float(r2[-1])))
    nr = len(r2)
    counts = np.zeros((len(H), nr), dtype=np.int64)
    b = np.float32(box)
    for hi, hpos in enumerate(H):
        shifts_per_axis = []
        for a in range(3):
            s = [np.float32(0.0)]
            if hpos[a] - rmax < 0.0:
                s.append(b)
            if hpos[a] + rmax > b:
                s.append(-b)
            shifts_per_axis.append(s)
        for sx, sy, sz in itertools.product(*shifts_per_axis):
            c = hpos + np.array([sx, sy, sz], dtype=np.float32)
            d = P - c  # float32
            d2 = (d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]) + d[:, 2] * d[:, 2]
            sh = shell_index_np(d2, r2)
            keep = sh < nr
            counts[hi] += np.bincount(sh[keep], minlength=nr)
    return counts


def dense_from_long(rows, nhalos: int, nshells: int) -> np.ndarray:
    """(halo_id, shell_idx, cnt) rows -> dense matrix for comparison."""
    m = np.zeros((nhalos, nshells), dtype=np.int64)
    for hid, sh, c in rows:
        m[int(hid), int(sh)] = c
    return m


def jobs_in_group(spark, group, fn):
    """-> (fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
