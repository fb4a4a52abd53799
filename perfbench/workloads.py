"""The pinned workloads: their shapes and the public calls they time.

Each workload is one shell_count call plus its sink, run in a closed
loop (one client, one query at a time).  kNN is not a timed workload:
its ring-widening loop runs a dozen small jobs whose JIT warm-up made
its run-to-run spread wider than any useful bound on a 4-CPU host; the
traced run measures it as an isolated layer probe instead (KNN_*).

Sizes are scaled down from the reference run (6M particles x 600k
halos) so that one query takes about two seconds on a 4-CPU host;
``shells_ref`` keeps the reference's
density-radius product (about 259 candidates per probe), so its
per-probe work matches the reference's.
"""

from __future__ import annotations

from dataclasses import dataclass

BOX = 1000.0
N_SHELLS = 40
REF_PROBES_PER_S_PER_THREAD = 23_900  # reference: 478k probes/s on 20 threads
REF_N_PARTICLES, REF_RMAX = 6_000_000, 12.7718
KNN_K = 8  # the traced run's knn probe: k nearest particles ...
KNN_PROBE_HALOS = 1000  # ... of the halos with id below this


def ref_matched_rmax(n_particles: int) -> float:
    """r_max giving the reference's candidates per probe at this
    particle count: n * r_max^3 held constant in the fixed box."""
    return REF_RMAX * (REF_N_PARTICLES / n_particles) ** (1.0 / 3.0)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    shape: dict
    rmax: float  # outermost shell edge; edges span rmax/5000..rmax
    sample: int = 64  # halos checked against the brute force per query


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="shells_ref",
            why="the paper's own query at the reference's candidates per "
                "probe, uniform points, plan='auto' (picks dgrid): "
                "driver grid build + Python-worker kernel",
            shape={"kind": "uniform", "n_particles": 1_000_000,
                   "n_halos": 100_000},
            rmax=ref_matched_rmax(1_000_000),
        ),
        Workload(
            name="shells_clustered_shuffle",
            why="clustered data (uneven cell occupancy) on the 100-TB-legal "
                "shuffle plan (no broadcast): ring explode, shuffle, "
                "join/cogroup, aggregate, checkpoint write",
            shape={"kind": "clustered", "n_particles": 300_000,
                   "n_halos": 20_000, "blobs_per_axis": 6, "sigma": 15.0,
                   "floor_frac": 0.3, "halo_sigma": 3.0,
                   "halo_floor_frac": 0.2},
            rmax=10.0,
        ),
    )
}


def plan_for(w: Workload) -> str:
    """The plan decision as the operator makes it: shells_ref's
    shell_count(plan='auto') makes this same choose_plan call (with the
    counts it takes itself); the shuffle workload asks choose_plan with
    no broadcast budget."""
    from spatialjoincountovershells_spark.operators.shell_count import choose_plan

    n_p, n_h = w.shape["n_particles"], w.shape["n_halos"]
    budget = {} if w.name == "shells_ref" else {"max_broadcast_bytes": 0}
    return choose_plan(n_h, n_p, w.rmax, BOX, **budget)


def call(w: Workload, halos, parts, edges, plan: str):
    """The operator call, exactly as a user makes it -> lazy DataFrame."""
    from spatialjoincountovershells_spark import shell_count

    if w.name == "shells_ref":
        return shell_count(halos, parts, edges, box=BOX, plan="auto")
    return shell_count(halos, parts, edges, box=BOX, plan=plan,
                       n_halos_est=w.shape["n_halos"],
                       n_particles_est=w.shape["n_particles"])


def sink(w: Workload, df, out: str, token: str) -> None:
    """Write every output row: through plans.pipeline.checkpoint for the
    shuffle workload (as jobs/sjcs_job.py does), plain parquet else."""
    if w.name == "shells_clustered_shuffle":
        from spatialjoincountovershells_spark.plans.pipeline import checkpoint

        checkpoint(df, out, token)
    else:
        df.write.mode("overwrite").parquet(out)
