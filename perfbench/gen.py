"""Seeded, partition-independent input generator.

Every coordinate is a pure function of (seed, stream, row id) through
splitmix64, so the same seed gives the same rows no matter how the
table is later split.  Positions are drawn directly on the 16-bit phash
grid (q in [0, 65536) per axis, box = 1000), and tables are written in
the images-table shape ``(id long, phash long)``, so the measured path
always includes ``decode_phash``.

Two shapes:

* ``uniform``: every row uniform on the periodic box;
* ``clustered``: Gaussian blobs over a uniform floor.  Halos sit mostly
  on the blob centres (real halos sit on density peaks), so the densest
  cells of the particle table are the ones most probed.  The blob
  parameters are chosen, not fitted: the reference's own generators are
  uniform, and no clustered reference data is available to match.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

BOX = 1000.0
QMAX = 65536  # phash grid points per axis
N_FILES = 8  # parquet files per table: scan parallelism independent of host

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Public-domain splitmix64 finaliser on uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return z ^ (z >> np.uint64(31))


def uniform01(seed: int, stream: int, ids: np.ndarray) -> np.ndarray:
    """f64 in [0, 1): 53 high bits of splitmix64(id ^ key(seed, stream))."""
    key = splitmix64(np.uint64(seed) * np.uint64(0x10001) + np.uint64(stream))
    h = splitmix64(ids.astype(np.uint64) ^ key)
    return (h >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))


def _normal(seed: int, stream: int, ids: np.ndarray) -> np.ndarray:
    """Standard normal by Box-Muller from two independent uniform streams."""
    u1 = uniform01(seed, stream, ids)
    u2 = uniform01(seed, stream + 1, ids)
    return np.sqrt(-2.0 * np.log1p(-u1)) * np.cos(2.0 * np.pi * u2)


def _to_q(pos: np.ndarray) -> np.ndarray:
    """Positions in box units -> int64 grid coordinates, wrapped periodically."""
    q = np.floor(pos * (QMAX / BOX)).astype(np.int64)
    return np.mod(q, QMAX)


def uniform_q(seed: int, stream: int, n: int) -> np.ndarray:
    ids = np.arange(n, dtype=np.int64)
    return np.stack(
        [np.floor(uniform01(seed, stream + a, ids) * QMAX).astype(np.int64)
         for a in range(3)], axis=1)


def blob_centres(seed: int, per_axis: int) -> np.ndarray:
    """(per_axis^3, 3) centres in box units: one per cell of a
    per_axis^3 lattice, uniform within the middle half of its cell.
    Stratified rather than uniform, so the number of close blob pairs
    (which sets how much work a query does) barely moves with the seed."""
    ids = np.arange(per_axis**3, dtype=np.int64)
    cell = np.stack([ids // per_axis**2, ids // per_axis % per_axis,
                     ids % per_axis], axis=1)
    jitter = np.stack([uniform01(seed, 900 + a, ids) for a in range(3)], axis=1)
    return (cell + 0.25 + 0.5 * jitter) * (BOX / per_axis)


def clustered_q(
    seed: int,
    stream: int,
    n: int,
    centres: np.ndarray,
    sigma: float,
    floor_frac: float,
) -> np.ndarray:
    """Rows on a Gaussian blob (sigma in box units) or, with probability
    `floor_frac`, uniform on the box."""
    ids = np.arange(n, dtype=np.int64)
    on_floor = uniform01(seed, stream, ids) < floor_frac
    blob = (uniform01(seed, stream + 1, ids) * len(centres)).astype(np.int64)
    pos = np.empty((n, 3), dtype=np.float64)
    for a in range(3):
        g = centres[blob, a] + sigma * _normal(seed, stream + 10 + 2 * a, ids)
        u = uniform01(seed, stream + 20 + a, ids) * BOX
        pos[:, a] = np.where(on_floor, u, g)
    return _to_q(pos)


def positions_f32(q: np.ndarray) -> np.ndarray:
    """Decoded float32 positions, the numpy mirror of ``decode_phash``:
    q * (box/65536) with both factors float32 (the scale is an exact
    binary fraction, so the product is exact)."""
    return q.astype(np.float32) * np.float32(BOX / QMAX)


def phash(q: np.ndarray) -> np.ndarray:
    return (q[:, 0] << 32) | (q[:, 1] << 16) | q[:, 2]


def make_tables(seed: int, shape: dict) -> tuple[np.ndarray, np.ndarray]:
    """-> (particle q (n_p, 3), halo q (n_h, 3)) for one workload shape."""
    n_p, n_h = shape["n_particles"], shape["n_halos"]
    if shape["kind"] == "uniform":
        return uniform_q(seed, 0, n_p), uniform_q(seed, 100, n_h)
    centres = blob_centres(seed, shape["blobs_per_axis"])
    parts = clustered_q(seed, 200, n_p, centres, shape["sigma"],
                        shape["floor_frac"])
    halos = clustered_q(seed, 300, n_h, centres, shape["halo_sigma"],
                        shape["halo_floor_frac"])
    return parts, halos


def _write_table(q: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    n = len(q)
    ids = np.arange(n, dtype=np.int64)
    ph = phash(q)
    bounds = np.linspace(0, n, N_FILES + 1).astype(np.int64)
    for i in range(N_FILES):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(
            pa.table({"id": ids[lo:hi], "phash": ph[lo:hi]}),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


def ensure_inputs(cache_dir: str, workload: str, seed: int, shape: dict):
    """Generate (or reuse) the seeded tables for one (workload, seed).

    Returns (dir, particle q, halo q).  The directory holds
    ``particles/`` and ``halos/`` parquet tables; it is written under a
    temporary name and renamed, so a killed run never leaves a partial
    cache entry behind."""
    parts, halos = make_tables(seed, shape)
    d = os.path.join(cache_dir, f"{workload}-s{seed}")
    meta = {"workload": workload, "seed": seed, "shape": shape}
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            if json.load(f) == meta:
                return d, parts, halos
        shutil.rmtree(d)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_table(parts, os.path.join(tmp, "particles"))
    _write_table(halos, os.path.join(tmp, "halos"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, d)
    return d, parts, halos
