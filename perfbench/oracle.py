"""Numpy brute force answers for a sample of halos.

Both oracles replay the engine's arithmetic exactly, so answers are
compared for equality, not within a tolerance:

* shell counts: periodic min-image per-axis deltas in float32,
  ``(dx*dx + dy*dy) + dz*dz`` accumulated left to right in float32,
  strict-``<`` first-match binning on the float32 squared edges
  (``searchsorted(..., side="right")``); pairs at d2 >= r2[-1] drop;
* kNN: ``knn``'s default float64 distance over float32 coordinates
  (the per-axis ``|a - b|`` is a float32 op, the min-image fold and the
  sum are float64), top-k by (d2, particle id).
"""

from __future__ import annotations

import numpy as np


def shell_counts(H: np.ndarray, P: np.ndarray, r2: np.ndarray,
                 box: float) -> np.ndarray:
    """(m, 3) f32 halos x (n, 3) f32 particles -> (m, len(r2)) int64 counts."""
    r2 = np.asarray(r2, dtype=np.float32)
    bx = np.float32(box)
    nr = len(r2)
    out = np.zeros((len(H), nr), dtype=np.int64)
    for i, h in enumerate(H):
        d2 = None
        for a in range(3):
            d = np.abs(P[:, a] - h[a])
            np.minimum(d, bx - d, out=d)
            sq = d * d
            d2 = sq if d2 is None else d2 + sq
        sh = np.searchsorted(r2, d2, side="right")
        out[i] = np.bincount(sh[sh < nr], minlength=nr)
    return out


def knn_ids(H: np.ndarray, P: np.ndarray, pids: np.ndarray, k: int,
            box: float) -> np.ndarray:
    """(m, 3) f32 halos -> (m, k) particle ids, nearest first, ties by id."""
    out = np.empty((len(H), k), dtype=np.int64)
    for i, h in enumerate(H):
        d2 = np.zeros(len(P), dtype=np.float64)
        for a in range(3):
            d = np.abs(P[:, a] - h[a]).astype(np.float64)
            d = np.minimum(d, box - d)
            d2 = d2 + d * d
        order = np.lexsort((pids, d2))[:k]
        out[i] = pids[order]
    return out


def sample_ids(seed: int, n: int, m: int) -> np.ndarray:
    """A fixed, seed-determined sample of m distinct row ids out of n."""
    rng = np.random.default_rng([seed, 0x5A3])
    return np.sort(rng.choice(n, size=min(m, n), replace=False)).astype(np.int64)


def check_shells(rows, sample: np.ndarray, expected: np.ndarray) -> str | None:
    """Compare (id, shell_idx, cnt) rows of the sampled halos with the
    oracle matrix; None when equal, else a short description."""
    got = np.zeros_like(expected)
    pos = {int(h): i for i, h in enumerate(sample)}
    for hid, sh, cnt in zip(rows["halo_id"], rows["shell_idx"], rows["cnt"]):
        i = pos.get(int(hid))
        if i is None:
            return f"row for unsampled halo {hid}"
        if got[i, int(sh)]:
            return f"duplicate row for halo {hid} shell {sh}"
        got[i, int(sh)] = int(cnt)
    bad = np.nonzero((got != expected).any(axis=1))[0]
    if len(bad):
        i = bad[0]
        return (f"{len(bad)} of {len(sample)} sampled halos differ; halo "
                f"{sample[i]}: got {got[i].sum()} pairs, want {expected[i].sum()}")
    return None


def check_knn(rows, sample: np.ndarray, expected: np.ndarray) -> str | None:
    """Compare (id, particle_id, rank) rows of the sampled halos with the
    oracle's ordered top-k; None when equal."""
    k = expected.shape[1]
    got = np.full_like(expected, -1)
    pos = {int(h): i for i, h in enumerate(sample)}
    for hid, pid, rank in zip(rows["halo_id"], rows["particle_id"], rows["rank"]):
        i = pos.get(int(hid))
        if i is None:
            return f"row for unsampled halo {hid}"
        if not 1 <= int(rank) <= k or got[i, int(rank) - 1] != -1:
            return f"bad or duplicate rank {rank} for halo {hid}"
        got[i, int(rank) - 1] = int(pid)
    bad = np.nonzero((got != expected).any(axis=1))[0]
    if len(bad):
        i = bad[0]
        return (f"{len(bad)} of {len(sample)} sampled halos differ; halo "
                f"{sample[i]}: got {got[i].tolist()}, want {expected[i].tolist()}")
    return None
