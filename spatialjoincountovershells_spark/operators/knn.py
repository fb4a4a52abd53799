"""kNN via iterative cell-ring widening (graft scope, SURVEY §7.2 M3).

Not in the reference (which has no top-k); semantics defined here:
for every halo return its k nearest particles under the periodic
min-image metric, ties broken by particle id (deterministic).

Algorithm (the H3 k_ring-widening pattern):
  ring = 1: join halos to particles in ring<=1 cells, keep per-halo
  top-k by (d2, pid).  A halo is FINAL when it has k candidates with
  d2 <= (ring*cs)^2 — any particle outside ring r is at axis distance
  > ring*cs, so nothing unseen can beat them.  Unfinished halos widen
  to the ring==(r+1) shell only (incremental), union with their kept
  top-k, re-rank.  Terminates when 2*ring+1 >= ncells (full coverage).

Each iteration is one DataFrame job; the loop is driver-side but the
work is fully distributed.  Ring residency grows as O(ring^2) cells
per step, so sparse regions converge in a few steps.

Scale hygiene (nothing driver-side grows with halo count):
* the finished/pending split is a per-halo window flag computed in the
  SAME (halo_id) shuffle as the rank window — no id-list broadcasts,
  no groupBy+join round-trips;
* exactly ONE action per ring (the pending count that decides
  termination);
* the result is materialized to a RELIABLE checkpoint (survives
  executor loss; get_spark sets a checkpoint dir) when one is
  configured, falling back to localCheckpoint otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import squared_distance_expr
from .cells import explode_ring, grid_ncells, with_cell

_H = ("_hx", "_hy", "_hz")
_P = ("_px", "_py", "_pz")


def knn(
    halos: DataFrame,
    particles: DataFrame,
    k: int,
    box: float = 1000.0,
    dtype: str = "float64",
    id_col: str = "halo_id",
    particle_id_col: str = "particle_id",
    h_coords: tuple[str, str, str] = ("x", "y", "z"),
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
    n_particles_est: int | None = None,
) -> DataFrame:
    """-> (halo_id, particle_id, rank 1..k, d2) — exact periodic kNN.

    ncells: grid resolution; defaults to an occupancy-aware choice via
    grid_ncells(box/16, n_hint=n_particles_est) — pass the (free, if a
    catalog tracks stats) particle-count estimate so sparse tables get
    a coarser grid whose first ring already holds ~k candidates instead
    of fanning probes into empty cells.
    """
    spark = halos.sparkSession
    nc = ncells or grid_ncells(box / 16, box, n_hint=n_particles_est)
    cs = box / nc
    h = halos.select(
        F.col(id_col), *[F.col(c).alias(a) for c, a in zip(h_coords, _H)]
    )
    p = particles.select(
        F.col(particle_id_col),
        *[F.col(c).alias(a) for c, a in zip(p_coords, _P)],
    )
    p = with_cell(p, nc, box, cols=_P).persist()

    d2 = squared_distance_expr(_H, _P, box, dtype)
    w = Window.partitionBy(id_col).orderBy("d2", particle_id_col)

    pending = h
    topk: DataFrame | None = None
    done_parts: list[DataFrame] = []
    cached: list[DataFrame] = []  # released after the final result is cut
    ring = 1
    while True:
        shell_only = ring > 1
        hc = explode_ring(pending, nc, box, cols=_H, k=ring, shell_only=shell_only)
        cand = hc.join(p, "cell_id").select(
            F.col(id_col), F.col(particle_id_col), *_H, d2.alias("d2")
        )
        pool = cand if topk is None else topk.unionByName(cand)
        if 2 * ring + 1 >= nc:  # the ring covers the whole grid
            done_parts.append(
                pool.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .drop("rank")
            )
            break
        # a halo is FINAL when its kth candidate is strictly inside the
        # ring guarantee: an unseen particle outside ring r sits at
        # d >= ring*cs, so only candidates strictly inside are immune to
        # (d2, particle_id) tie-breaks against unseen points.  The flag
        # is a window over the same halo_id partitioning the rank window
        # already shuffled by — one pass, no joins, no id-list broadcast.
        guard = float(ring) * cs
        sw = Window.partitionBy(id_col)
        flagged = (
            pool.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .drop("rank")
            .withColumn("_n", F.count(F.lit(1)).over(sw))
            .withColumn("_dmax", F.max("d2").over(sw))
            .withColumn(
                "_fin",
                (F.col("_n") >= k) & (F.col("_dmax") < F.lit(guard * guard)),
            )
            .drop("_n", "_dmax")
            .persist()
        )
        cached.append(flagged)
        done_parts.append(flagged.where(F.col("_fin")).drop("_fin"))
        topk = flagged.where(~F.col("_fin")).drop("_fin")
        # halos with pending=true: either unfinished or (rare) still
        # candidate-less; AQE picks the join strategy — the per-halo flag
        # frame is one row per halo, no explicit broadcast hint needed
        flags = flagged.select(id_col, "_fin").distinct()
        pending = (
            pending.join(flags, id_col, "left")
            .where(F.coalesce(~F.col("_fin"), F.lit(True)))
            .drop("_fin")
            .persist()
        )
        cached.append(pending)
        if pending.count() == 0:  # the ONE action per ring
            break
        ring += 1

    out = done_parts[0]
    for d in done_parts[1:]:
        out = out.unionByName(d)
    res = (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, particle_id_col, "rank", "d2")
    )
    # materialize so the iteration's caches can be freed: reliable
    # checkpoint when a dir is configured (survives executor loss),
    # else executor-local (single-process/test fallback)
    if spark.sparkContext.getCheckpointDir() is not None:
        res = res.checkpoint(eager=True)
    else:
        res = res.localCheckpoint(eager=True)
    p.unpersist()
    for df in cached:
        df.unpersist()
    return res
