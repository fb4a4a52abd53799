"""SparkSession factory with scale-aware defaults.

Local mode is the test harness; the same config block is what we'd pass
to spark-submit on a real cluster (AQE + skew-join on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "sjcs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    # make this package importable by Python UDF workers regardless of the
    # driver's cwd — the local-mode analog of `spark-submit --py-files`
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch Python/IPC overhead in
        # the mapInPandas kernels (bcast shell count, image ops); 64k rows
        # of (id, 3 coords) is ~2 MB — well within executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # CPU-saturating Arrow kernels (bcast shell count) can starve the
        # executor<->driver heartbeat thread on small pinned-core runs;
        # generous timeouts are the standard setting for PandasUDF-heavy
        # jobs and change nothing else
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "900s")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    if os.path.isfile(os.path.join(pkg_root, "sjcs_worker_daemon.py")):
        # Python workers import pyspark unzipped (sjcs_worker_daemon.py:
        # ~0.25 CPU.s per task otherwise).  Only when this package is
        # loaded from a directory: a --py-files zip does not ship it.
        b = b.config("spark.python.daemon.module", "sjcs_worker_daemon")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    key, sc = "spark.sql.shuffle.partitions", spark.sparkContext
    if key not in (extra or {}):
        # match parallelism, not the 200 default.  A local master's
        # parallelism is read off the started context, so local[*],
        # local[N,F] and local-cluster[...] need no parsing here
        if shuffle_partitions is None:
            shuffle_partitions = (max(8, sc.defaultParallelism)
                                  if sc.master.startswith("local") else 32)
        spark.conf.set(key, str(shuffle_partitions))
    if spark.sparkContext.getCheckpointDir() is None:
        # reliable-checkpoint home for iterative operators (knn).
        # SJCS_CHECKPOINT_DIR (a durable shared path — HDFS/S3) is
        # honored everywhere; the tempdir fallback applies ONLY in
        # local mode — on a multi-node cluster a driver-local tempdir
        # would make every executor checkpoint to its own disk
        # (unrecoverable), so there knn falls back to localCheckpoint
        # unless the env var names a shared path.
        ckpt = os.environ.get("SJCS_CHECKPOINT_DIR")
        if ckpt is None and spark.sparkContext.master.startswith("local"):
            import tempfile

            ckpt = tempfile.mkdtemp(prefix="sjcs-ckpt-")
        if ckpt is not None:
            spark.sparkContext.setCheckpointDir(ckpt)
    return spark
