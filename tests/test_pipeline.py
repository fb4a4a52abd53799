"""plans/pipeline.py: flagship pipeline, prepartition, checkpoint/resume."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialjoincountovershells_spark.functions.shells import logspace_edges
from spatialjoincountovershells_spark.plans.pipeline import (
    checkpoint,
    partition_metrics,
    prepartition_particles,
    resume,
    resume_or_compute,
    sjcs_pipeline,
)
from spatialjoincountovershells_spark.sources.synth import synth_images, synth_points

from fixtures import jobs_in_group


def test_sjcs_pipeline_with_filter(spark):
    """images + halos + filter-id list end-to-end; filtered counts are a
    subset of the unfiltered ones."""
    images = synth_images(spark, 3000, seed=1, with_payload=False)
    halos = synth_points(spark, 100, seed=2)
    edges = logspace_edges(5.0, 120.0, 6)
    full = sjcs_pipeline(images, halos, edges).toPandas()
    ids = spark.range(0, 100, 2).select(F.col("id"))
    part = sjcs_pipeline(images, halos, edges, filter_ids=ids).toPandas()
    assert set(part["halo_id"]) <= set(range(0, 100, 2))
    merged = part.merge(full, on=["halo_id", "shell_idx"], suffixes=("_f", ""))
    assert (merged["cnt_f"] == merged["cnt"]).all()
    assert len(part) < len(full)


def test_prepartition_and_metrics(spark, tmp_path):
    images = synth_images(spark, 2000, seed=3, with_payload=False)
    path = prepartition_particles(images, str(tmp_path / "pp"), rmax=100.0,
                                  n_buckets=4)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert "cell_id" in back.columns and "x" in back.columns
    m = partition_metrics(back).toPandas()
    assert m["n_rows"].sum() == 2000


def test_checkpoint_resume_skips_recompute(spark, tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return synth_points(spark, 50, seed=5)

    p = str(tmp_path / "ckpt")
    df1 = resume_or_compute(spark, p, token="t1", fn=compute)
    assert df1.count() == 50 and len(calls) == 1
    df2 = resume_or_compute(spark, p, token="t1", fn=compute)
    assert df2.count() == 50 and len(calls) == 1  # marker hit, no recompute
    # a different token invalidates the checkpoint
    df3 = resume_or_compute(spark, p, token="t2", fn=compute)
    assert df3.count() == 50 and len(calls) == 2


def test_checkpoint_records_lineage(spark, tmp_path):
    p = str(tmp_path / "ck2")
    meta = checkpoint(synth_points(spark, 64, seed=6), p, token="tok")
    assert meta["token"] == "tok" and meta["n_rows"] == 64
    assert sum(m["n_rows"] for m in meta["partitions"]) == 64
    assert resume(spark, p, "tok") is not None
    assert resume(spark, p, "other") is None


def test_checkpoint_counts_from_footers_without_a_job(spark, tmp_path):
    """On the parquet stand-in checkpoint counts what it wrote from the
    files' footers: it starts exactly the jobs a plain write_table of
    the same frame starts, and the marker's n_rows is the rows
    written."""
    from spatialjoincountovershells_spark.sources.tableio import write_table

    df = synth_points(spark, 500, seed=7).repartition(3)
    p = str(tmp_path / "ck")
    meta, n_ck = jobs_in_group(spark, "ck", lambda: checkpoint(df, p, "t"))
    _, n_w = jobs_in_group(
        spark, "w", lambda: write_table(df, str(tmp_path / "w")))
    assert n_ck == n_w >= 1
    assert meta["n_rows"] == spark.read.parquet(p).count() == 500
    assert all(m["n_rows"] > 0 for m in meta["partitions"])


def test_footer_count_is_exact_and_jobless_only_unfiltered(spark, tmp_path):
    """count_rows reads an unfiltered parquet scan's footers and starts
    no job; under a filter the footers only bound the count, so the
    exact count runs count()."""
    from spatialjoincountovershells_spark.sources.tableio import count_rows

    p = str(tmp_path / "pts")
    synth_points(spark, 700, seed=8, id_col="id").repartition(2).write.parquet(p)
    df = spark.read.parquet(p)
    n, jobs = jobs_in_group(spark, "plain",
                            lambda: count_rows(df.select("id", "phash")))
    assert (n, jobs) == (700, 0)
    sub = df.where("id % 3 = 0")
    n, jobs = jobs_in_group(spark, "filtered", lambda: count_rows(sub))
    assert n == sub.count() < 700 and jobs >= 1


def test_tableio_parquet_standin(spark, tmp_path):
    """No Iceberg runtime in this container: the probe must say so and
    write_table/read_table must degrade to parquet at the same location."""
    from spatialjoincountovershells_spark.sources.tableio import (
        iceberg_available,
        read_table,
        resolve_format,
        write_table,
    )

    assert iceberg_available(spark) is False
    assert resolve_format(spark) == "parquet"
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    loc = str(tmp_path / "t1")
    assert write_table(df, loc) == "parquet"
    back = read_table(spark, loc)
    assert back.count() == 100 and set(back.columns) == {"id", "v"}


def test_tableio_iceberg_branch_plumbing():
    """The Iceberg branch cannot EXECUTE in this container (no runtime
    jar — documented waiver), so pin its DataFrameWriterV2 call plumbing
    with a stub: forced fmt='iceberg' must route writeTo(ident)
    .using('iceberg') then createOrReplace()/append() by mode, and
    read_table must resolve through spark.table(ident)."""
    from spatialjoincountovershells_spark.sources import tableio

    calls = []

    class W:
        def __init__(self, ident):
            self.ident = ident

        def using(self, fmt):
            calls.append(("using", self.ident, fmt))
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace",))

        def append(self):
            calls.append(("append",))

    class FakeDF:
        sparkSession = None

        def writeTo(self, ident):
            return W(ident)

    assert tableio.write_table(FakeDF(), "sjcs.db.t", fmt="iceberg") == "iceberg"
    assert calls == [("using", "sjcs.db.t", "iceberg"), ("createOrReplace",)]
    calls.clear()
    assert tableio.write_table(
        FakeDF(), "sjcs.db.t", mode="append", fmt="iceberg") == "iceberg"
    assert calls == [("using", "sjcs.db.t", "iceberg"), ("append",)]

    class FakeSpark:
        def table(self, ident):
            calls.append(("table", ident))
            return "DF"

    calls.clear()
    assert tableio.read_table(FakeSpark(), "sjcs.db.t", fmt="iceberg") == "DF"
    assert calls == [("table", "sjcs.db.t")]


def test_cluster_by_tile_locality_and_pushdown(spark, tmp_path):
    """Z-order clustering: files cover disjoint tile ranges (so min/max
    stats prune file scans), and a tile_id range filter reaches the
    parquet scan as a pushed filter."""
    from pyspark.sql import functions as F

    from spatialjoincountovershells_spark.plans.pipeline import cluster_by_tile

    images = synth_images(spark, 4000, seed=9, with_payload=False)
    path = cluster_by_tile(images, str(tmp_path / "zt"), level=8, n_files=8)
    back = spark.read.parquet(path)
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("tile_id").alias("lo"), F.max("tile_id").alias("hi"))
        .collect()
    )
    assert len(per_file) > 1
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (lo_a, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert hi_a < lo_b, "file tile ranges must be disjoint"
    # rows survive the round trip and the filter is pushed to the scan
    assert back.count() == 4000
    q = back.where((F.col("tile_id") >= 100) & (F.col("tile_id") < 200))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "tile_id" in plan.split("PushedFilters")[1][:200]


def test_corpus_job_stages_and_resume(tmp_path):
    """jobs/corpus_job.py end-to-end in a subprocess (the spark-submit
    analog): clean -> sample -> chunk, all stages checkpointed; a second
    identical run must RESUME every stage (markers untouched) and print
    the same funnel."""
    import json as _json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "corpus")
    # eval set for the decontamination stage: a disjoint-id slice of the
    # same table (ids shifted so no train doc "matches itself")
    bench = str(tmp_path / "bench.parquet")
    import duckdb

    duckdb.sql(
        "COPY (SELECT doc_id + 1000000 AS doc_id, text "
        "FROM '/root/testdata/sf0.001/documents.parquet' "
        f"WHERE doc_id % 10 = 3) TO '{bench}' (FORMAT PARQUET)"
    )
    args = [
        sys.executable, "jobs/corpus_job.py",
        "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", out,
        "--benchmark", bench, "--decon-min-overlap", "128",
        "--sample", "en=500000", "--sample-default", "250000",
        "--chunk-chars", "64", "--chunk-overlap", "8",
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run():
        r = subprocess.run(args, capture_output=True, text=True, cwd=repo,
                           timeout=600)
        assert r.returncode == 0, r.stderr[-2000:]
        return [_json.loads(l) for l in r.stdout.splitlines()
                if l.startswith('{"stage"')]

    first = run()
    stages = {s["stage"]: s for s in first}
    assert set(stages) == {"funnel", "decontaminated", "sampled", "chunks",
                           "done"}
    assert stages["done"]["survivors"] == stages["funnel"]["n_survivors"] > 0
    assert 0 <= stages["decontaminated"]["rows"] <= stages["funnel"]["n_survivors"]
    markers = {
        d: os.path.getmtime(os.path.join(out, d, "_SJCS_DONE.json"))
        for d in ("funnel", "survivors", "decontaminated", "sampled", "chunks")
    }
    second = run()
    assert second == first  # identical stage reports
    for d, t in markers.items():  # no stage recomputed/rewritten
        assert os.path.getmtime(os.path.join(out, d, "_SJCS_DONE.json")) == t


def test_sjcs_job_via_spark_submit(spark, tmp_path):
    """The literal deployment path (north rule): ``spark-submit
    --py-files dist/sjcs_spark.zip jobs/sjcs_job.py``.

    The job file is COPIED out of the repo and run from a non-repo cwd,
    so its checkout fallback (sys.path insert of its own parent) points
    nowhere useful and every engine import — driver AND Python workers —
    must come from the freshly built zip.  A second identical run must
    resume from the checkpoint token without recomputing."""
    import json as _json
    import shutil
    import subprocess
    import sys as _sys

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    # fresh zip straight from the packaging tool
    zip_path = str(tmp_path / "sjcs_spark.zip")
    r = subprocess.run([_sys.executable,
                        os.path.join(repo, "tools", "package_pyfiles.py"),
                        zip_path], capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-1000:]

    # tiny (id, x, y, z) inputs written by the shared session
    from spatialjoincountovershells_spark.functions.phash import decode_phash
    from spatialjoincountovershells_spark.sources.synth import synth_points

    pdir = str(tmp_path / "particles.parquet")
    hdir = str(tmp_path / "halos.parquet")
    decode_phash(synth_points(spark, 4000, seed=5)).write.parquet(pdir)
    decode_phash(
        synth_points(spark, 200, seed=6, id_col="halo_id")
    ).write.parquet(hdir)

    job = str(tmp_path / "sjcs_job.py")
    shutil.copy(os.path.join(repo, "jobs", "sjcs_job.py"), job)
    out = str(tmp_path / "counts")
    args = [
        submit, "--master", "local[2]", "--py-files", zip_path, job,
        "--particle-files", pdir, "--halo-file", hdir,
        "--radius", "10:300:8", "--plan", "sql", "--output", out,
    ]
    env = dict(os.environ,
               PYSPARK_PYTHON=_sys.executable,
               PYSPARK_DRIVER_PYTHON=_sys.executable)
    env.pop("PYTHONPATH", None)  # nothing but the zip may supply the pkg

    def run():
        r = subprocess.run(args, capture_output=True, text=True,
                           cwd=str(tmp_path), timeout=600, env=env)
        assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]
        line = next(l for l in r.stdout.splitlines()
                    if l.startswith('{"output"'))
        return _json.loads(line)

    first = run()
    assert first["rows"] > 0
    marker = os.path.join(out, "_SJCS_DONE.json")
    assert os.path.exists(marker)
    with open(marker) as f:
        assert first["rows"] == _json.load(f)["n_rows"]
    mtime = os.path.getmtime(marker)
    second = run()
    assert second["rows"] == first["rows"]
    assert os.path.getmtime(marker) == mtime, "second run must resume"


def test_get_spark_local_master_with_retries(tmp_path):
    """get_spark starts ``local[N,F]`` (N threads, F task attempts) and
    defaults the shuffle partitions to max(8, the started context's
    parallelism) rather than parsing the master string."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from spatialjoincountovershells_spark import get_spark\n"
        "for m in ('local[2,3]', 'local[10,2]'):\n"
        "    s = get_spark(master=m, driver_memory='1g')\n"
        "    print('SP', m, s.sparkContext.defaultParallelism,\n"
        "          s.conf.get('spark.sql.shuffle.partitions'))\n"
        "    s.stop()\n"
    )
    r = subprocess.run([_sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=str(tmp_path), timeout=600)
    assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]
    got = [l.split()[1:] for l in r.stdout.splitlines() if l.startswith("SP ")]
    assert got == [["local[2,3]", "2", "8"], ["local[10,2]", "10", "10"]]


def test_python_workers_hold_no_zipimporter(spark):
    """get_spark starts Python workers through sjcs_worker_daemon: after
    a task a worker imports pyspark unzipped and holds no zipimporter
    (each one re-reads its archive's directory on every task)."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        yield pd.DataFrame({"n_zip": [n], "pyspark": [pyspark.__file__]})

    res = spark.range(0, 100, numPartitions=2).mapInPandas(
        probe, "n_zip long, pyspark string").toPandas()
    assert res.n_zip.tolist() == [0, 0]
    assert not any(".zip" in f for f in res.pyspark)


@pytest.mark.parametrize("same_version", [True, False])
def test_worker_daemon_drops_archives_only_for_same_version(
        tmp_path, monkeypatch, same_version):
    import sys as _sys
    import zipfile

    import pyspark
    import sjcs_worker_daemon

    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"),
              "rb") as f:
        version = f.read()
    zp = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("pyspark/version.py",
                   version if same_version else b"__version__ = '0.0'\n")
    monkeypatch.setattr(_sys, "path", [zp] + _sys.path)
    dropped = sjcs_worker_daemon.drop_spark_archives()
    assert (zp in dropped) == same_version
    assert (zp in _sys.path) != same_version
