"""Driver-only numpy replay of the dgrid, bcast and fused ring-sweep kernels.

    python3 tools/sweep_replay.py --workload shells_ref --seed 1003 --repeat 3

Reads perfbench's seeded inputs (``perfbench/gen.py``; nothing is
written), builds each plan's sweep grid exactly as the plan does and
streams the other side, as the Arrow record batches Spark hands a
Python worker, through the operator's own per-batch loop
(``_sweep_batches``, with the plan's reducer: ``_probe_counts`` for
dgrid and fused, ``_grid_row_counts`` for bcast) in one thread, with
no Spark.  The sweep reports each phase as it ends, and the replay
prints the CPU seconds (``time.process_time``) charged to each:

* grid build — ``_cell_key`` + ``_csr_grid`` (dgrid's particle grid
  and bcast's halo grid are the driver's broadcast builds; fused
  builds one per block);
* cell order — the Arrow -> float64 decode and the argsort that puts
  a streamed batch in cell-key order;
* segments — cell indices, slab gaps and the CSR ranges per row;
* index build — the per-pair grid and streamed row indices;
* grid gather — the grid's three coordinate gathers;
* probe gather — the streamed rows' three coordinate gathers, with
  the subtraction;
* arithmetic — min-image fold, squares, sum, the r_max cut;
* binning — ``shell_binner``;
* accumulate — the per-(probe, shell) bincounts (bcast: the per-(grid
  row, shell) keys and their sort-reduce) and the emitted Arrow rows.

dgrid streams the halos and bcast (the kernel streaming shell counts
run on every micro-batch) the particles, in ``--parts`` round-robin
partitions of at most ``--batch`` rows (what ``repartition``, a scan's
splits and get_spark's Arrow batch size give them); fused cogroups the
coarse blocks of ``_plan_grid`` for ``--parts`` cores, each halo
copied to every block its r_max ball touches.  Every plan must find
the same pairs, which the replay checks.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import workloads  # noqa: E402

from spatialjoincountovershells_spark.functions.shells import (  # noqa: E402
    logspace_edges,
    squared_edges,
)
from spatialjoincountovershells_spark.operators.shell_count import (  # noqa: E402
    _S,
    _cell_index,
    _cell_key,
    _csr_grid,
    _grid_row_counts,
    _make_sweep,
    _plan_grid,
    _probe_counts,
    _sweep_batches,
)

PHASES = ("grid build", "cell order", "segments", "index build", "grid gather",
          "probe gather", "arithmetic", "binning", "accumulate")


SCHEMA = pa.schema([("h", pa.int64()), ("shell_idx", pa.int32()),
                    ("cnt", pa.int64())])


def stream_batch(X, rows, id_col: str | None) -> pa.RecordBatch:
    """Rows of X as the Arrow batch a plan streams: f32 coords, and
    the row numbers as ids under `id_col`."""
    ids = [rows.astype(np.int64)] if id_col else []
    return pa.record_batch([*ids, *X[rows].T],
                           names=([id_col] if id_col else []) + list(_S))


def pairs(sweep, grid, batches, clock, id_col="h", reducer=_probe_counts) -> int:
    """Drive the operator's per-batch loop -> total in-range pairs."""
    clock.last = time.process_time()
    return sum(int(np.asarray(b.column("cnt")).sum()) for b in
               _sweep_batches(sweep, grid, batches, id_col, reducer,
                              SCHEMA, clock))


class PhaseClock:
    """Charges the CPU time since the previous call to the named phase."""

    def __init__(self):
        self.cpu: dict[str, float] = defaultdict(float)
        self.last = time.process_time()

    def __call__(self, phase: str) -> None:
        now = time.process_time()
        self.cpu[phase] += now - self.last
        self.last = now


def broadcast(plan, G, S, edges, np_dtype, parts, batch, clock):
    """Plan 'dgrid' (G the particles, S the halos) or 'bcast' (G the
    halos, with ids, S the particles): one grid, S streamed past it."""
    nc, ring_k = _plan_grid(plan, float(edges[-1]), gen.BOX)
    r2 = squared_edges(edges)
    G64 = G.astype(np.float64)
    clock.last = time.process_time()
    grid = _csr_grid(_cell_key(G64.T, nc, gen.BOX), G64.T, nc, np_dtype,
                     ids=np.arange(len(G)) if plan == "bcast" else None)
    clock("grid build")
    sweep = _make_sweep(nc, gen.BOX, ring_k, r2, np_dtype, len(G))
    id_col, reducer = (None, _grid_row_counts) if plan == "bcast" \
        else ("h", _probe_counts)
    total = 0
    for p in range(parts):  # one Spark task per partition
        rows = np.arange(p, len(S), parts)
        batches = [stream_batch(S, rows[b0:b0 + batch], id_col)
                   for b0 in range(0, len(rows), batch)]
        total += pairs(sweep, grid, batches, clock, id_col, reducer)
    return total


def fused(P, H, edges, np_dtype, parts, clock):
    rmax = float(edges[-1])
    nc, ring_k = _plan_grid("fused", rmax, gen.BOX, len(P))
    nb, _ = _plan_grid("fused", rmax, gen.BOX, len(P), blocks_for=parts)
    r2 = squared_edges(edges)
    P64, H64 = P.astype(np.float64), H.astype(np.float64)
    # particles: one block each; halos: every block their ball touches
    pblock = _cell_key(P64.T, nb, gen.BOX)
    bs = gen.BOX / nb
    hc = _cell_index(H64, nb, gen.BOX)
    frac = H64 - hc * bs
    lim = rmax * rmax * (1.0 + 1e-9)
    copies = []
    for o in np.array(np.meshgrid(*[[-1, 0, 1]] * 3)).T.reshape(-1, 3):
        gap = np.where(o > 0, bs - frac, np.where(o < 0, frac, 0.0))
        keep = np.flatnonzero((gap * gap).sum(axis=1) < lim)
        q = (hc[keep] + o) % nb
        copies.append((keep, (q[:, 0] * nb + q[:, 1]) * nb + q[:, 2]))
    hrow = np.concatenate([c[0] for c in copies])
    hblock = np.concatenate([c[1] for c in copies])
    sweep = _make_sweep(nc, gen.BOX, ring_k, r2, np_dtype, len(P))
    porder, horder = np.argsort(pblock), np.argsort(hblock)
    total = 0
    for blk in np.unique(pblock):
        pi = porder[np.searchsorted(pblock[porder], blk):
                    np.searchsorted(pblock[porder], blk, "right")]
        hi = hrow[horder[np.searchsorted(hblock[horder], blk):
                         np.searchsorted(hblock[horder], blk, "right")]]
        if len(hi) == 0:
            continue
        clock.last = time.process_time()
        grid = _csr_grid(_cell_key(P64[pi].T, nc, gen.BOX), P64[pi].T, nc,
                         np_dtype, n_probes=len(hi))
        clock("grid build")
        total += pairs(sweep, grid, [stream_batch(H, hi, "h")], clock)
    return total, nb**3, len(hrow)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="shells_ref",
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1003)
    ap.add_argument("--dtype", default="float32", choices=("float32", "float64"))
    ap.add_argument("--plans", default="dgrid,fused")
    ap.add_argument("--parts", type=int, default=4)
    ap.add_argument("--batch", type=int, default=65536)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args(argv)

    w = workloads.WORKLOADS[args.workload]
    pq, hq = gen.make_tables(args.seed, w.shape)
    P, H = gen.positions_f32(pq), gen.positions_f32(hq)
    edges = logspace_edges(w.rmax / 5000, w.rmax, workloads.N_SHELLS)
    np_dtype = np.float32 if args.dtype == "float32" else np.float64
    print(f"sweep replay {w.name} seed={args.seed} dtype={args.dtype} "
          f"{len(P):,} particles x {len(H):,} halos, r_max {w.rmax:.4f}, "
          f"parts={args.parts}; CPU s per run (min / median of "
          f"{args.repeat})")
    totals = {}
    for plan in args.plans.split(","):
        runs = []
        for _ in range(args.repeat):
            clock = PhaseClock()
            if plan in ("dgrid", "bcast"):
                G, S = (P, H) if plan == "dgrid" else (H, P)
                totals[plan] = broadcast(plan, G, S, edges, np_dtype,
                                         args.parts, args.batch, clock)
                note = ""
            else:
                totals[plan], n_blocks, n_copies = fused(
                    P, H, edges, np_dtype, args.parts, clock)
                note = f" ({n_blocks} blocks, {n_copies:,} halo copies)"
            runs.append(dict(clock.cpu))
        print(f"{plan}{note}: {totals[plan]:,} pairs")
        for ph in PHASES + ("total",):
            xs = sorted(sum(r.values()) if ph == "total" else r.get(ph, 0.0)
                        for r in runs)
            print(f"  {ph:<13} {xs[0]:8.4f} {xs[len(xs) // 2]:8.4f}")
    if len(set(totals.values())) > 1:
        print(f"MISMATCH: plans found different pair counts {totals}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
