"""End-to-end SJCS pipeline + cluster-scale plumbing.

* sjcs_pipeline      — images table -> decode phash -> shell counts
  (the reference's astr_rcount main, SURVEY §3.1, as one declarative plan)
* prepartition_particles — one-time shuffle of the big table by cell_id
  so every later probe job joins shuffle-free on the big side (the
  analog of the reference's reusable per-file index; at 100 TB this is
  the difference between one shuffle ever and one per query)
* checkpoint / resume — idempotent table writes keyed by a token;
  restarts skip completed work (BASELINE north_rule: resumable with
  per-partition lineage + metrics)
* partition_metrics — per-partition row counts / bytes for lineage

Storage format: all writes route through sources/tableio.py — Iceberg
when the runtime jar is on the classpath (north_rule), the parquet
stand-in otherwise (this sandbox has no Iceberg jar and no network;
see the waiver in README + BENCH/BASELINE.md).  The checkpoint marker
is the parquet-mode substitute for Iceberg's snapshot commit.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.phash import decode_phash
from ..operators.cells import grid_ncells, with_cell
from ..operators.shell_count import shell_count
from ..operators.semi_join import filter_halos
from ..sources.tableio import parquet_footers, read_table, write_table


def sjcs_pipeline(
    images: DataFrame,
    halos: DataFrame,
    edges: np.ndarray,
    filter_ids: DataFrame | None = None,
    box: float = 1000.0,
    plan: str = "sql",
    id_col: str = "halo_id",
) -> DataFrame:
    """The flagship query: decode positions from phash on both sides,
    optional halo semi-join filter (J4), then count-over-shells."""
    parts = decode_phash(images)
    h = decode_phash(halos)
    if filter_ids is not None:
        h = filter_halos(h, filter_ids, id_col=id_col)
    return shell_count(h, parts, edges, box=box, plan=plan, id_col=id_col)


def prepartition_particles(
    images: DataFrame,
    path: str,
    rmax: float,
    box: float = 1000.0,
    n_buckets: int | None = None,
) -> str:
    """Materialize the particle table hash-partitioned by cell_id.

    Probe jobs reading this back join on cell_id with the small
    (halo-ring) side shuffled only — the persistent-index pattern for
    the 100 TB table."""
    nc = grid_ncells(rmax, box)
    df = with_cell(decode_phash(images), nc, box)
    w = df.repartition(n_buckets or df.sparkSession.sparkContext.defaultParallelism, "cell_id")
    write_table(w, path)
    return path


def cluster_by_tile(
    images: DataFrame,
    path: str,
    level: int = 8,
    box: float = 1000.0,
    n_files: int | None = None,
) -> str:
    """Materialize the images table Z-order-clustered on the Morton
    tile id: repartitionByRange + sortWithinPartitions, so spatially
    close rows land in the same files and every file covers a disjoint
    tile range.  Readers filtering on tile_id (range queries, covers
    from tile_cover) then prune whole files/row-groups via parquet
    min/max stats — the Iceberg sort-order / Z-order-clustering analog
    built from plain Spark primitives.  Z-order matters over plain
    (tx, ty) sort because Morton ranges stay 2-D-local, so a bbox query
    touches O(perimeter) files instead of full row stripes."""
    from ..operators.tiling import morton_tile_expr

    pts = decode_phash(images)
    t = pts.withColumn(
        "tile_id", morton_tile_expr(F.col("x"), F.col("y"), level, box)
    )
    w = t.repartitionByRange(
        n_files or t.sparkSession.sparkContext.defaultParallelism, "tile_id"
    ).sortWithinPartitions("tile_id")
    write_table(w, path)
    return path


def partition_metrics(df: DataFrame) -> DataFrame:
    """Per-partition lineage: (partition_id, n_rows) — cheap extra job."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def resume_token(*parts) -> str:
    """Canonical resume-token derivation (sort_keys JSON -> sha256 ->
    16 hex chars) shared by every job so a change to the convention
    cannot silently diverge one job's resume semantics from another's."""
    import hashlib

    return hashlib.sha256(
        json.dumps(parts, sort_keys=True).encode()
    ).hexdigest()[:16]


def _marker(path: str) -> str:
    return os.path.join(path, "_SJCS_DONE.json")


def checkpoint(df: DataFrame, path: str, token: str) -> dict:
    """Idempotent overwrite write + lineage marker.

    The marker records the completion token, the rows written
    (``n_rows``) and per-partition counts; `resume` treats a matching
    marker as proof of completion.  On the parquet stand-in at a local
    path the counts come from the written files' footers, one
    ``partitions`` entry (file, n_rows) per file and no Spark job
    after the write.  An Iceberg table or a non-local path is read
    back and counted per read partition (partition_id, n_rows): one
    more job."""
    if write_table(df, path) == "parquet" and not urlparse(path).scheme:
        files = sorted(f for f in os.listdir(path)
                       if f.endswith(".parquet") and not f.startswith(("_", ".")))
        footers = parquet_footers(os.path.join(path, f) for f in files)
        metrics = [{"file": f, "n_rows": n} for f, (n, _) in zip(files, footers)]
    else:
        # the schema it just wrote: no footer-inference job on read-back
        back = read_table(df.sparkSession, path, schema=df.schema)
        metrics = [r.asDict() for r in partition_metrics(back).collect()]
    meta = {"token": token, "n_rows": int(sum(m["n_rows"] for m in metrics)),
            "partitions": metrics}
    with open(_marker(path), "w") as f:
        json.dump(meta, f)
    return meta


def resume(spark: SparkSession, path: str, token: str) -> DataFrame | None:
    """Return the checkpointed DataFrame if `token` completed, else None."""
    m = _marker(path)
    if not os.path.exists(m):
        return None
    with open(m) as f:
        meta = json.load(f)
    if meta.get("token") != token:
        return None
    return read_table(spark, path)


def resume_or_compute(spark: SparkSession, path: str, token: str, fn) -> DataFrame:
    df = resume(spark, path, token)
    if df is not None:
        return df
    checkpoint(fn(), path, token)
    return read_table(spark, path)
