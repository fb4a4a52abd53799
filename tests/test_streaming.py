"""Structured-Streaming ingestion: cell-occupancy maintenance job."""

import time

from pyspark.sql import functions as F

from spatialjoincountovershells_spark.operators.cells import with_cell
from spatialjoincountovershells_spark.functions.phash import decode_phash
from spatialjoincountovershells_spark.streaming.stream_cells import (
    stream_cell_occupancy,
)


def _await_rows(spark, query, table, want, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        n = spark.sql(f"SELECT coalesce(sum(n), 0) AS s FROM {table}").collect()[0].s
        if n is not None and n >= want:
            return int(n)
        query.processAllAvailable()
    return int(n or 0)


def test_stream_cell_occupancy_matches_batch(spark):
    """Rate-source rows -> per-cell counts must equal the batch result
    over the same synthetic phash values."""
    n_rows, nc = 500, 8
    # deterministic phash derived from the rate value
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1000")
        .load()
        .where(F.col("value") < n_rows)
        .withColumn("phash", F.xxhash64("value").bitwiseAND(F.lit((1 << 48) - 1)))
    )
    agg = stream_cell_occupancy(stream.select("phash"), ncells=nc)
    q = (
        agg.writeStream.format("memory")
        .queryName("occ")
        .outputMode("complete")
        .start()
    )
    try:
        total = _await_rows(spark, q, "occ", n_rows)
        assert total == n_rows
        got = {
            r.cell_id: r.n
            for r in spark.sql("SELECT cell_id, n FROM occ").collect()
        }
    finally:
        q.stop()
    batch = (
        spark.range(n_rows)
        .withColumn("phash", F.xxhash64("id").bitwiseAND(F.lit((1 << 48) - 1)))
        .select("phash")
    )
    want = {
        r.cell_id: r.n
        for r in with_cell(decode_phash(batch), nc)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_shell_counts_resumes_from_checkpoint(spark, tmp_path):
    """Resumability: STOP the update-mode query after batch 1, restart a
    NEW query from the same checkpoint, feed batch 2 — the recovered
    aggregation state must keep accumulating (final totals equal the
    batch shell_count over both files, not just file 2)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import FloatType, StructField, StructType

    from spatialjoincountovershells_spark import shell_count
    from spatialjoincountovershells_spark.streaming.stream_cells import (
        stream_shell_counts,
    )

    n_parts, n_halos = 300, 12
    edges = np.logspace(np.log2(30.0), np.log2(200.0), 4, base=2.0).astype(np.float32)

    def pos(ids):
        mults = (2654435761, 2246822519, 3266489917)
        return {
            c: ((ids * m) % 64000 / 64.0).astype(np.float32)
            for c, m in zip("xyz", mults)
        }

    halos = spark.createDataFrame(
        [
            (int(i), *(float(pos(np.array([i + 104729]))[c][0]) for c in "xyz"))
            for i in range(n_halos)
        ],
        "halo_id long, x float, y float, z float",
    )
    src = tmp_path / "parts"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ids = np.arange(n_parts, dtype=np.int64)
    schema = StructType([StructField(c, FloatType()) for c in "xyz"])

    def start(rows):
        # the memory sink cannot recover from a checkpoint; foreachBatch can
        stream = spark.readStream.schema(schema).parquet(str(src))
        return (
            stream_shell_counts(stream, halos, edges)
            .writeStream.foreachBatch(
                lambda df, _eid: rows.extend(df.collect())
            )
            .outputMode("update").option("checkpointLocation", ckpt)
            .start()
        )

    pq.write_table(pa.table(pos(ids[:150])), src / "b1.parquet")
    rows1 = []
    q1 = start(rows1)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert rows1  # batch 1 was processed and its offsets checkpointed

    pq.write_table(pa.table(pos(ids[150:])), src / "b2.parquet")
    rows2 = []
    q2 = start(rows2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    def latest(rows, into=None):
        # latest emission per key wins (counts are monotone)
        into = dict(into or {})
        for r in rows:
            k = (r.halo_id, r.shell_idx)
            into[k] = max(r.cnt, into.get(k, 0))
        return into

    got1, got = latest(rows1), latest(rows2)
    pdf = spark.createDataFrame(
        [tuple(map(float, r)) for r in np.column_stack(
            [pos(ids)[c] for c in "xyz"])],
        "x float, y float, z float",
    )
    want = {
        (r.halo_id, r.shell_idx): r.cnt
        for r in shell_count(halos, pdf, edges).collect()
    }
    pdf2 = spark.createDataFrame(
        [tuple(map(float, r)) for r in np.column_stack(
            [pos(ids[150:])[c] for c in "xyz"])],
        "x float, y float, z float",
    )
    want2 = {
        (r.halo_id, r.shell_idx): r.cnt
        for r in shell_count(halos, pdf2, edges).collect()
    }
    # the restarted query only ever SAW file 2 (update mode re-emits
    # only the keys file 2 touched): every re-emitted total must be the
    # TWO-file total, and at least one must exceed its file-2-only count
    # — both require the batch-1 state to have been recovered from the
    # checkpoint.  Both runs' updates together are the final totals.
    assert got and all(want[k] == v for k, v in got.items())
    assert any(v > want2.get(k, 0) for k, v in got.items())
    assert any(v > got1[k] for k, v in got.items() if k in got1)
    assert latest(rows2, got1) == want


def test_stream_shell_counts_matches_batch(spark):
    """Streaming micro-batches play the reference's per-file loop: the
    complete-mode sink must equal the batch shell_count over the same
    particles (SURVEY §3.1 accumulation semantics)."""
    import numpy as np

    from spatialjoincountovershells_spark import shell_count
    from spatialjoincountovershells_spark.streaming.stream_cells import (
        stream_shell_counts,
    )

    n_parts, n_halos = 400, 20
    edges = np.logspace(np.log2(30.0), np.log2(200.0), 4, base=2.0).astype(np.float32)

    def coords(df, key):
        for i, c in enumerate("xyz"):
            df = df.withColumn(
                c,
                ((F.col(key) * F.lit([2654435761, 2246822519, 3266489917][i]))
                 % F.lit(64000) / F.lit(64.0)).cast("float"),
            )
        return df
    halos = coords(
        spark.range(n_halos).withColumnRenamed("id", "halo_id"), "halo_id"
    ).select("halo_id", "x", "y", "z")
    stream = coords(
        spark.readStream.format("rate").option("rowsPerSecond", "2000").load()
        .where(F.col("value") < n_parts),
        "value",
    ).select("x", "y", "z")
    agg = stream_shell_counts(stream, halos, edges)
    q = (
        agg.writeStream.format("memory").queryName("shells")
        .outputMode("complete").start()
    )
    try:
        deadline = time.time() + 60
        want_df = coords(spark.range(n_parts), "id").select("x", "y", "z")
        want = {
            (r.halo_id, r.shell_idx): r.cnt
            for r in shell_count(halos, want_df, edges).collect()
        }
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                (r.halo_id, r.shell_idx): r.cnt
                for r in spark.sql("SELECT * FROM shells").collect()
            }
            if got == want:
                break
    finally:
        q.stop()
    assert got == want and len(want) > 0


def test_stream_job_available_now_incremental(spark, tmp_path):
    """jobs/sjcs_stream_job.py end-to-end: drain file 1 with
    --available-now, add file 2, rerun with the same checkpoint — the
    second run must process ONLY the new file and the totals view must
    equal the batch shell_count over both files."""
    import importlib.util
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spatialjoincountovershells_spark import shell_count

    spec = importlib.util.spec_from_file_location(
        "sjcs_stream_job",
        os.path.join(os.path.dirname(__file__), "..", "jobs", "sjcs_stream_job.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    n_parts, n_halos = 300, 12
    edges_spec = "30:200:4"

    def pos(ids):
        mults = (2654435761, 2246822519, 3266489917)
        return {
            c: ((ids * m) % 64000 / 64.0).astype(np.float32)
            for c, m in zip("xyz", mults)
        }

    halos = spark.createDataFrame(
        [
            (int(i), *(float(pos(np.array([i + 15485863]))[c][0]) for c in "xyz"))
            for i in range(n_halos)
        ],
        "halo_id long, x float, y float, z float",
    )
    halo_file = str(tmp_path / "halos")
    halos.write.parquet(halo_file)
    src = tmp_path / "incoming"
    src.mkdir()
    ids = np.arange(n_parts, dtype=np.int64)
    pq.write_table(pa.table(pos(ids[:150])), src / "b1.parquet")

    class Args:
        particle_dir = str(src)
        halo_file_ = halo_file
        radius = edges_spec
        output = str(tmp_path / "totals")
        checkpoint = str(tmp_path / "ckpt")
        available_now = True
        box = 1000.0
        dtype = "float32"

    Args.halo_file = Args.halo_file_
    out1 = job.run_stream_job(spark, Args)
    assert out1["drained"] and out1["total_keys"] > 0

    pq.write_table(pa.table(pos(ids[150:])), src / "b2.parquet")
    out2 = job.run_stream_job(spark, Args)
    assert out2["drained"]

    got = {
        (r.halo_id, r.shell_idx): r.cnt
        for r in job.read_totals(spark, Args.output).collect()
    }
    pdf = spark.createDataFrame(
        [tuple(map(float, r)) for r in np.column_stack(
            [pos(ids)[c] for c in "xyz"])],
        "x float, y float, z float",
    )
    edges = job.parse_radius(edges_spec)
    want = {
        (r.halo_id, r.shell_idx): r.cnt
        for r in shell_count(halos, pdf, edges).collect()
    }
    assert got == want and len(got) > 0


def test_stream_near_dup_matches_batch_join(spark):
    """Arriving docs flagged against a static corpus: the streaming
    stream-static band join must emit exactly the rows the same join
    produces in batch (identical per-row bucket exprs on both sides —
    exact replays collide in all 8 bands, unrelated text in none)."""
    from spatialjoincountovershells_spark.operators.dedup import (
        minhash_band_buckets,
    )
    from spatialjoincountovershells_spark.streaming.stream_dedup import (
        stream_near_dup,
    )

    corpus_texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
    ]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], "doc_id long, text string"
    )
    corpus_buckets = minhash_band_buckets(corpus)
    stream_texts = [
        corpus_texts[1],
        "a completely unrelated sequence of words xyzzy plugh",
        corpus_texts[0],
    ]
    arr = F.array(*[F.lit(t) for t in stream_texts])
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
        .where(F.col("value") < len(stream_texts))
        .select(
            (F.col("value") + 1000).alias("doc_id"),
            F.element_at(arr, F.col("value").cast("int") + 1).alias("text"),
        )
    )
    out = stream_near_dup(stream, corpus_buckets)
    batch_docs = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(stream_texts)],
        "doc_id long, text string",
    )
    want = {
        (r.doc_id, r.corpus_doc_id, r.band)
        for r in stream_near_dup(batch_docs, corpus_buckets).collect()
    }
    assert want  # the replayed docs must collide (exact dup -> all bands)
    q = (
        out.writeStream.format("memory")
        .queryName("ndup")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = set()
        while time.time() < deadline and len(got) < len(want):
            q.processAllAvailable()
            got = {
                (r.doc_id, r.corpus_doc_id, r.band)
                for r in spark.sql(
                    "SELECT doc_id, corpus_doc_id, band FROM ndup"
                ).collect()
            }
    finally:
        q.stop()
    assert got == want


def _stream_plan_nodes(query) -> list[str]:
    """Node names of a streaming query's last micro-batch physical plan."""
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        query.explain()
    names = []
    for line in buf.getvalue().splitlines():
        m = re.match(r"^[\s:|+-]*(?:\*\(\d+\)\s*)?([A-Z]\w*)", line)
        if m:
            names.append(m.group(1))
    return names


def _corner_stream_inputs(seed: int = 11):
    """Halos on the box's faces, edges and corners plus a few inside;
    particles in 3 files, uniform plus a clump at each corner, so many
    pairs cross the periodic wrap (the sweep's fold path)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    near = (0.5, 999.5)
    H = np.vstack([
        np.array(np.meshgrid(near, near, near)).T.reshape(-1, 3),  # corners
        [[0.5, 500.0, 500.0], [999.5, 500.0, 500.0], [500.0, 3.0, 500.0],
         [500.0, 500.0, 996.0], [2.0, 998.0, 500.0]],  # faces, an edge
        rng.uniform(0, 1000, (7, 3)),
    ]).astype(np.float32)
    files = []
    for _ in range(3):
        corner = rng.integers(0, 2, (120, 3)) * 1000.0 + rng.uniform(
            -25, 25, (120, 3))
        P = np.vstack([rng.uniform(0, 1000, (200, 3)), corner % 1000.0])
        files.append(P.astype(np.float32))
    return H, files


def test_stream_shell_counts_run_one_arrow_sweep_per_batch(spark, tmp_path):
    """The streaming shell operator sweeps the broadcast halo grid:
    every micro-batch plan holds exactly one MapInArrow, and no ring
    explode (Generate) or join."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spatialjoincountovershells_spark.streaming.stream_cells import (
        stream_shell_counts,
    )

    H, files = _corner_stream_inputs()
    halos = spark.createDataFrame(
        [(i, *map(float, h)) for i, h in enumerate(H)],
        "halo_id long, x float, y float, z float")
    src = tmp_path / "parts"
    src.mkdir()
    pq.write_table(pa.table(dict(zip("xyz", files[0].T))), src / "f0.parquet")
    edges = np.array([5.0, 20.0, 40.0], dtype=np.float32)
    stream = spark.readStream.schema("x float, y float, z float") \
        .parquet(str(src))
    q = (stream_shell_counts(stream, halos, edges).writeStream
         .format("memory").queryName("plan_sweep").outputMode("update")
         .start())
    try:
        q.processAllAvailable()
        nodes = _stream_plan_nodes(q)
    finally:
        q.stop()
    assert nodes.count("MapInArrow") == 1, nodes
    assert not [n for n in nodes if "Generate" in n or "Join" in n], nodes


def test_stream_shell_counts_match_brute_force_per_trigger(spark, tmp_path):
    """A 3-file stream, one file per trigger, against halos on the box
    faces and corners: after every trigger the streaming totals, in
    complete and in update mode, must equal the numpy brute force over
    the files read so far."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fixtures import oracle_shell_counts
    from spatialjoincountovershells_spark.functions.shells import (
        squared_edges,
    )
    from spatialjoincountovershells_spark.streaming.stream_cells import (
        stream_shell_counts,
    )

    H, files = _corner_stream_inputs()
    halos = spark.createDataFrame(
        [(i, *map(float, h)) for i, h in enumerate(H)],
        "halo_id long, x float, y float, z float")
    edges = np.array([5.0, 12.0, 25.0, 40.0], dtype=np.float32)
    src = tmp_path / "parts"
    src.mkdir()
    pq.write_table(pa.table(dict(zip("xyz", files[0].T))), src / "f0.parquet")

    def start(name, mode):
        stream = (spark.readStream.schema("x float, y float, z float")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        return (stream_shell_counts(stream, halos, edges).writeStream
                .format("memory").queryName(name).outputMode(mode).start())

    queries = [start("brute_complete", "complete"),
               start("brute_update", "update")]
    try:
        for k, P in enumerate(files):
            if k:
                pq.write_table(pa.table(dict(zip("xyz", P.T))),
                               src / f"f{k}.parquet")
            for q in queries:
                q.processAllAvailable()
                assert q.lastProgress["numInputRows"] == len(P)
            dense = oracle_shell_counts(H, np.vstack(files[:k + 1]),
                                        squared_edges(edges))
            want = {(int(h), int(s)): int(dense[h, s])
                    for h, s in zip(*np.nonzero(dense))}
            # some pairs exist only across the periodic wrap
            assert (dense != oracle_shell_counts(
                H, np.vstack(files[:k + 1]), squared_edges(edges),
                box=1e9)).any()
            for name in ("brute_complete", "brute_update"):
                got = {(r.halo_id, r.shell_idx): r.cnt for r in spark.sql(
                    "SELECT halo_id, shell_idx, max(cnt) AS cnt FROM "
                    f"{name} GROUP BY halo_id, shell_idx").collect()}
                assert got == want, (name, k)
    finally:
        for q in queries:
            q.stop()
