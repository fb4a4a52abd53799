"""spark-submit entry point for the SJCS count-over-shells pipeline.

The cluster-mode analog of the reference's ``astr_rcount.exe`` CLI
(``src/astr_rcount/main.c:118-133``): same logical flags, DataFrame
execution, resumable output.

  spark-submit --py-files dist/sjcs_spark.zip jobs/sjcs_job.py \
      --particle-files /data/particles/*.parquet \
      --halo-file /data/halos.parquet \
      --radius 0.001:5:40 \
      --output /data/out/shell_counts \
      [--format parquet|decoded|compressed] \
      [--halo-format parquet|halo-text] \
      [--filter-file /data/filter_ids.csv] \
      [--salt-threshold 100000] [--plan sql|fused|bcast|dgrid|auto] \
      [--report out.txt]

Input formats: 'parquet' expects either (id,x,y,z) columns or the
images-table shape with a phash column (auto-decoded); 'decoded' /
'compressed' / 'halo-text' read the reference's own file formats.
The job is idempotent: it checkpoints through plans/pipeline.py with a
token derived from the inputs, so a restarted run skips completed work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

try:  # under spark-submit --py-files the zip is already on the path
    import spatialjoincountovershells_spark  # noqa: F401
except ModuleNotFoundError:  # direct `python jobs/sjcs_job.py` from a checkout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_radius(spec: str) -> np.ndarray:
    from spatialjoincountovershells_spark.functions.shells import logspace_edges

    lo, hi, n = spec.split(":")
    return logspace_edges(float(lo), float(hi), int(n))


def load_points(spark, paths, fmt, id_col):
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.functions.phash import decode_phash
    from spatialjoincountovershells_spark.sources.gadget import (
        read_compressed_particles,
        read_decoded_particles,
        read_halos_text_ordered,
    )

    if fmt == "decoded":
        return read_decoded_particles(spark, paths).withColumnRenamed(
            "particle_id", id_col
        )
    if fmt == "compressed":
        return read_compressed_particles(spark, paths).withColumnRenamed(
            "particle_id", id_col
        )
    if fmt == "halo-text":
        return read_halos_text_ordered(spark, paths[0]).withColumnRenamed(
            "row_idx", id_col
        ) if id_col != "halo_id" else read_halos_text_ordered(spark, paths[0])
    df = spark.read.parquet(*paths)
    if "phash" in df.columns and "x" not in df.columns:
        df = decode_phash(df)
    if id_col not in df.columns:
        first = next(c for c in df.columns if c.endswith("_id") or c == "id")
        df = df.withColumnRenamed(first, id_col)
    return df.select(id_col, "x", "y", "z")


def main(argv=None) -> int:
    from spatialjoincountovershells_spark.operators.shell_count import _PLANS

    ap = argparse.ArgumentParser()
    ap.add_argument("--particle-files", nargs="+", required=True)
    ap.add_argument("--halo-file", required=True)
    ap.add_argument("--radius", required=True, help="min:max:nbins (log2-spaced)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "decoded", "compressed"])
    ap.add_argument("--halo-format", default=None,
                    choices=[None, "parquet", "halo-text"])
    ap.add_argument("--filter-file", default=None)
    ap.add_argument("--plan", default="sql", choices=[*_PLANS, "auto"])
    ap.add_argument("--salt-threshold", type=int, default=None,
                    help="split join groups holding more particles than "
                         "this: sql's cells; fused's coarse blocks (a few "
                         "dozen per job), so size it per block there")
    ap.add_argument("--box", type=float, default=1000.0)
    ap.add_argument("--report", default=None, help="optional text report path")
    args = ap.parse_args(argv)

    from spatialjoincountovershells_spark import get_spark
    from spatialjoincountovershells_spark.operators.semi_join import filter_halos
    from spatialjoincountovershells_spark.operators.shell_count import shell_count
    from spatialjoincountovershells_spark.plans.pipeline import resume_or_compute
    from spatialjoincountovershells_spark.sources.gadget import read_filter_ids
    from spatialjoincountovershells_spark.sources.report import write_report

    spark = get_spark(app="sjcs_job")
    edges = parse_radius(args.radius)
    halo_fmt = args.halo_format or (
        "halo-text" if args.halo_file.endswith(".list") else "parquet"
    )
    halos = load_points(spark, [args.halo_file], halo_fmt, "halo_id")
    parts = load_points(spark, args.particle_files, args.format, "particle_id")
    if args.filter_file:
        halos = filter_halos(halos, read_filter_ids(spark, args.filter_file))

    from spatialjoincountovershells_spark.plans.pipeline import resume_token

    token = resume_token(
        sorted(args.particle_files), args.halo_file, args.radius,
        args.plan, args.filter_file, args.box,
    )

    # key by file-order ordinal when the source provides one: the
    # reference supports duplicate halo ids (TestData4PB has two id-0
    # halos), which must stay separate report rows, not merge
    id_key = "row_idx" if "row_idx" in halos.columns else "halo_id"
    counts = resume_or_compute(
        spark,
        args.output,
        token,
        lambda: shell_count(
            halos, parts, edges, box=args.box, plan=args.plan,
            salt_threshold=args.salt_threshold, id_col=id_key,
        ),
    )
    n = counts.count()
    print(json.dumps({"output": args.output, "rows": n, "token": token}))
    if args.report:
        id_cols = [c for c in halos.columns if c in ("row_idx", "halo_id")]
        hp = halos.select(*id_cols).toPandas()
        write_report(args.report, counts, hp, edges,
                     id_col=id_key, display_id_col="halo_id")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
