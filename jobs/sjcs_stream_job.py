"""spark-submit entry point for STREAMING count-over-shells.

The streaming analog of ``jobs/sjcs_job.py``: watch a directory for
particle files and maintain running per-halo shell counts — the
reference's per-file accumulation loop (``src/astr_rcount/main.c``
processes files one at a time into running totals) run as a Structured
Streaming job that picks up each new file as a micro-batch and survives
restarts via its checkpoint.

  spark-submit --py-files dist/sjcs_spark.zip jobs/sjcs_stream_job.py \
      --particle-dir /data/incoming \
      --halo-file /data/halos.parquet \
      --radius 0.001:5:40 \
      --output sjcs.db.shell_totals \
      --checkpoint /data/ckpt \
      [--available-now] [--box 1000] [--dtype float32]

Every micro-batch is swept past one halo grid (``stream_shell_counts``,
plan 'bcast'): --halo-file is read, CSR-indexed and broadcast once, when
the query starts, so a changed halo file needs a new query (and a new
--checkpoint); it must fit the broadcast payload (about 40 B per halo)
with an integer halo_id.  Each batch emits partial (halo, shell, cnt)
rows and a streaming groupBy sums them; the update-mode sink receives
only the (halo, shell) totals that the batch changed.  --available-now
drains every file currently in the directory and exits (incremental: a
restart with the same --checkpoint processes only NEW files) — the
exact batch-boundary semantics of the reference's file loop; without
it the query runs until killed.

The sink appends each epoch's updated totals (with an ``epoch_id``
column) through tableio — an Iceberg table when the runtime is on the
classpath, a parquet directory otherwise.  Totals are monotone per
(halo, shell), so the CURRENT totals are ``max(cnt)`` per key
(``read_totals``); under Iceberg a ``MERGE INTO`` in the foreachBatch
would keep one live row per key instead — same plumbing, one statement.

The watched directory must contain at least one file when the job
starts (the stream schema is taken from a static read of it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:  # under spark-submit --py-files the zip is already on the path
    import spatialjoincountovershells_spark  # noqa: F401
except ModuleNotFoundError:  # direct `python jobs/sjcs_stream_job.py`
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_radius(spec: str):
    from spatialjoincountovershells_spark.functions.shells import logspace_edges

    lo, hi, n = spec.split(":")
    return logspace_edges(float(lo), float(hi), int(n))


def load_halos(spark, path: str):
    from spatialjoincountovershells_spark.functions.phash import decode_phash

    df = spark.read.parquet(path)
    if "phash" in df.columns and "x" not in df.columns:
        df = decode_phash(df)
        if "halo_id" not in df.columns and "image_id" in df.columns:
            df = df.withColumnRenamed("image_id", "halo_id")
    return df.select("halo_id", "x", "y", "z")


def read_totals(spark, output: str):
    """Current running totals from the epoch-append sink: counts are
    monotone per (halo_id, shell_idx), so the latest value is the max."""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.sources.tableio import read_table

    return (
        read_table(spark, output)
        .groupBy("halo_id", "shell_idx")
        .agg(F.max("cnt").alias("cnt"))
    )


def run_stream_job(spark, args) -> dict:
    """Start (and, under --available-now, drain) the streaming query.
    Factored from main() so tests drive it on their own session."""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.sources.tableio import write_table
    from spatialjoincountovershells_spark.streaming.stream_cells import (
        stream_shell_counts,
    )

    edges = parse_radius(args.radius)
    halos = load_halos(spark, args.halo_file)
    schema = spark.read.parquet(args.particle_dir).schema
    stream = spark.readStream.schema(schema).parquet(args.particle_dir)
    counts = stream_shell_counts(stream, halos, edges, box=args.box,
                                 dtype=args.dtype)

    def sink(batch_df, epoch_id):
        write_table(
            batch_df.withColumn("epoch_id", F.lit(int(epoch_id))),
            args.output,
            mode="append",
        )

    writer = (
        counts.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", args.checkpoint)
        .queryName("sjcs_stream")
    )
    if args.available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        n = read_totals(spark, args.output).count()
        return {"output": args.output, "total_keys": n, "drained": True}
    q = writer.start()
    q.awaitTermination()
    return {"output": args.output, "drained": False}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--particle-dir", required=True)
    ap.add_argument("--halo-file", required=True)
    ap.add_argument("--radius", required=True, help="min:max:nbins (log2-spaced)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--available-now", action="store_true")
    ap.add_argument("--box", type=float, default=1000.0)
    ap.add_argument("--dtype", default="float32", choices=["float32", "float64"])
    args = ap.parse_args(argv)

    from spatialjoincountovershells_spark import get_spark

    spark = get_spark(app="sjcs_stream_job")
    out = run_stream_job(spark, args)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
