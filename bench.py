"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline: the SJCS count-over-shells join on a deterministic synthetic
images/halos table sized by the scale factor of $SPARK_GRAFT_SF_DIR,
plus the graft-scope operators (tiling, PIP, kNN, dedup, ANN) on the
driver tables.

Methodology (round 3 — see VERDICT r2 "What's wrong" #1/#2): every
timed query runs in its OWN subprocess with a fresh SparkSession
(a long-lived local session degrades over many heavy jobs, and
hypervisor steal adds 2-5x wall-clock noise between identical runs —
CLAUDE.md), min-of-2 runs per query inside the child.  The headline
metric is probes/sec of the best shell plan — invariant under
candidate pruning, unlike pairs/sec which penalized a strictly
beneficial prune in r2.  The traced candidate-pair volume is
perfbench's `cells.candidate_pairs`.

Per-thread throughput at the reference's shape and 1->4-core scaling
come from perfbench (`perfbench/run.py`, run under `taskset` for the
1-core leg); BENCH/BASELINE.md has the recipe and the table.

Usage: python bench.py [--cores N] [--sf-dir DIR] [--scale-mult M]
                       [--headline-only] [--plans P1,P2,...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spatialjoincountovershells_spark.operators.shell_count import (  # noqa: E402
    _PLANS as SHELL_PLANS,
)

CACHE = "/tmp/sjcs_bench_cache"

# the bench also times plan='auto' (chooser overhead + did it pick the
# winner?)
BENCH_PLANS = SHELL_PLANS + ("auto",)
# weighted_shells is contract-checked but NOT benched: on the driver
# tables its rmax=200 shape is a 7.8B-candidate job at sf0.1 (~42s)
# that adds no plan signal beyond the benched shell plans
EXTRA_QUERIES = ("sjcs_range_pairs", "tile_assign",
                 "tile_rollup", "point_in_polygon", "knn",
                 "minhash_lsh", "ann_cosine", "dedup_exact",
                 "simhash_pairs", "phash_near_dup", "ann_ivf",
                 "point_in_polygon_grid",
                 "cosine_dedup", "corpus_clean", "image_features",
                 "video_frames", "audio_stats",
                 "decontaminate", "repetition_stats",
                 # round-3 additions: per-probe min join (G-function),
                 # per-user session windows, pyramid self-join,
                 # clustering (range-join DBSCAN, Lloyd, SemDeDup)
                 "g_function", "event_sessions", "tile_adaptive",
                 "dbscan", "kmeans_embed", "semantic_dedup", "bm25",
                 "pq_encode", "pq_ann", "kmv_distinct", "countmin",
                 # late round-3 additions: substring-dedup spans,
                 # RANGE-frame rolling features, pair-graph PageRank,
                 # histogram quantiles
                 "dup_spans", "rolling_features", "pagerank",
                 "value_quantiles",
                 # geodetic: great-circle shells on the chord lattice
                 # (lat/lon embed + the unchanged shell_count kernel)
                 "geo_shells",
                 # round-4 additions: hexagonal lattice k-ring, base-32
                 # geohash rollup, per-user great-circle trajectories,
                 # Count-Min corpus-familiarity scoring
                 "hex_kring", "geohash_cells", "trajectory",
                 "lm_familiarity")


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def materialize_inputs(spark, sf: float) -> tuple[str, str, int, int]:
    """Write the synthetic particle/halo tables once per (sf, seed)."""
    from spatialjoincountovershells_spark.functions.phash import decode_phash
    from spatialjoincountovershells_spark.sources.synth import synth_points

    n_part = max(20_000, int(6_000_000 * sf))
    n_halo = max(2_000, int(600_000 * sf))
    pdir = f"{CACHE}/particles_n{n_part}"
    hdir = f"{CACHE}/halos_n{n_halo}"
    for path, n, seed, idc in ((pdir, n_part, 1, "particle_id"), (hdir, n_halo, 2, "halo_id")):
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df = decode_phash(synth_points(spark, n, seed=seed, id_col=idc, partitions=32))
            df.write.mode("overwrite").parquet(path)
    return pdir, hdir, n_part, n_halo


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, repeat: int = 2) -> float:
    """min-of-N wall time — single-JVM local mode shows occasional GC /
    scheduling outliers (2-5x); min is the stable capability number."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def _headline_edges() -> np.ndarray:
    edges = np.logspace(np.log2(0.5), np.log2(20.0), 40, base=2.0).astype(np.float32)
    edges[-1] = np.float32(2.0 ** np.log2(20.0))
    return edges


def _run_one(query: str, cores: int, sf_dir: str, mult: float,
             repeat: int = 2) -> dict:
    """Child entry: time ONE query in this fresh process, min-of-N."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from spatialjoincountovershells_spark import get_spark
    from spatialjoincountovershells_spark.operators.cells import grid_ncells
    from spatialjoincountovershells_spark.operators.shell_count import (
        range_join_pairs,
        shell_count,
    )
    import __spark_entry__ as entrymod

    sf = sf_of(sf_dir) * mult
    spark = get_spark(app=f"bench_{query}_c{cores}", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8))
    pdir, hdir, n_part, n_halo = materialize_inputs(spark, sf)
    parts = spark.read.parquet(pdir)
    halos = spark.read.parquet(hdir)
    edges = _headline_edges()
    out: dict = {"query": query, "cores": cores, "sf": sf,
                 "n_particles": n_part, "n_halos": n_halo}

    if query.startswith("sjcs_shell_"):
        plan = query.removeprefix("sjcs_shell_")
        # phase-split timing, mirroring the reference's own accounting
        # (README.md:119-136 prints "index construction time" apart from
        # "searching time"; its published probes/s derives from searching
        # only).  For the broadcast plans "build" is the grid collect +
        # broadcast, triggered eagerly by shell_count(); for sql/fused
        # plan construction is lazy so build ~ 0 and search = whole job.
        best_b = best_s = best_t = float("inf")
        for _ in range(repeat):
            t0 = time.time()
            df = shell_count(halos, parts, edges, plan=plan, id_col="halo_id",
                             n_halos_est=n_halo, n_particles_est=n_part)
            t1 = time.time()
            noop_write(df)
            t2 = time.time()
            best_b = min(best_b, t1 - t0)
            best_s = min(best_s, t2 - t1)
            best_t = min(best_t, t2 - t0)
        out["sec"] = best_t
        out["build_sec"] = round(best_b, 3)
        out["search_sec"] = round(best_s, 3)
    elif query == "sjcs_range_pairs":
        out["sec"] = timed(
            lambda: noop_write(range_join_pairs(
                halos, parts, radius=5.0, id_col="halo_id",
                ncells=grid_ncells(5.0, n_hint=n_part))),
            repeat=repeat,
        )
    else:
        fn = entrymod.queries()[query]
        out["sec"] = timed(lambda: noop_write(fn(spark, sf_dir)), repeat=repeat)
    spark.stop()
    return out


def _spawn_one(query: str, cores: int, sf_dir: str, mult: float) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, "--one", query, "--cores", str(cores),
         "--sf-dir", sf_dir, "--scale-mult", str(mult)],
        capture_output=True, text=True, timeout=6000,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(
            f"bench child ({query}, cores={cores}) produced no result; "
            f"rc={out.returncode}\nstderr tail:\n"
            + "\n".join(out.stderr.splitlines()[-20:]) + "\n")
        raise RuntimeError(f"bench child failed: {query}")
    return json.loads(lines[-1])


def run_bench(cores: int, sf_dir: str, mult: float = 1.0,
              headline_only: bool = False,
              plans: tuple[str, ...] = SHELL_PLANS) -> dict:
    """Parent: one fresh subprocess per timed query (min-of-2 in-child)."""
    queries: dict[str, float] = {}
    meta: dict = {}
    for plan in plans:
        r = _spawn_one(f"sjcs_shell_{plan}", cores, sf_dir, mult)
        queries[f"sjcs_shell_{plan}"] = r["sec"]
        meta = r
    if not headline_only:
        for q in EXTRA_QUERIES:
            queries[q] = _spawn_one(q, cores, sf_dir, mult)["sec"]
    shell_times = [queries[f"sjcs_shell_{p}"] for p in plans]
    t_best = min(shell_times)
    return {
        "metric": "sjcs_probes_per_sec",
        "value": round(meta["n_halos"] / t_best, 1),
        "unit": "probes/sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": meta["sf"],
        "cores": cores,
        "n_particles": meta["n_particles"],
        "n_halos": meta["n_halos"],
        "best_shell_plan": min(queries, key=lambda k: queries[k]
                               if k.startswith("sjcs_shell_") else 1e18),
        "total_sec": round(sum(queries.values()), 3),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS")
                                or len(os.sched_getaffinity(0))))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--one", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--scale-mult", type=float, default=1.0)
    ap.add_argument("--headline-only", action="store_true")
    ap.add_argument("--plans", default=",".join(BENCH_PLANS),
                    help="comma list of shell-count plans to time")
    args = ap.parse_args()
    if args.one:
        print(json.dumps(_run_one(args.one, args.cores, args.sf_dir,
                                  args.scale_mult)))
    else:
        print(json.dumps(run_bench(args.cores, args.sf_dir, mult=args.scale_mult,
                                   headline_only=args.headline_only,
                                   plans=tuple(args.plans.split(",")))))


if __name__ == "__main__":
    main()
