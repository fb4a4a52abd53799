"""Re-record the small traced run that test_eventlog.py parses.

    python3 perfbench/tests/record_eventlog.py

Runs two tiny traced queries (shell_count plan='dgrid', which runs a
Python-worker kernel, and plan='sql', which shuffles), each written to
parquet, with Spark's JSON event log on.  The log is trimmed to the
events and fields ``spans.parse_event_log`` reads (no plan strings, no
paths, no environment) and saved with the spans next to this file.
"""

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
import spans  # noqa: E402

_PLAN_EVENTS = ("SparkListenerSQLExecutionStart",
                "SparkListenerSQLAdaptiveExecutionUpdate")


def _trim_plan(node: dict) -> dict:
    return {"nodeName": node.get("nodeName"),
            "metrics": [m for m in node.get("metrics", [])
                        if m["name"] in spans._PY_METRICS],
            "children": [_trim_plan(c) for c in node.get("children", [])]}


def _trim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind.endswith(_PLAN_EVENTS):
        return {"Event": kind, "sparkPlanInfo": _trim_plan(ev["sparkPlanInfo"])}
    if kind == "SparkListenerJobStart":
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Stage IDs": ev["Stage IDs"],
                "Submission Time": ev.get("Submission Time"),
                "Properties": {"spark.job.description": desc} if desc else {}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Completion Time": ev.get("Completion Time")}
    if kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        keep = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
                "Memory Bytes Spilled", "Disk Bytes Spilled",
                "Shuffle Read Metrics", "Shuffle Write Metrics",
                "Input Metrics", "Output Metrics")
        acc = [{"ID": a["ID"], "Name": a["Name"], "Update": a["Update"]}
               for a in (ev.get("Task Info") or {}).get("Accumulables", [])
               if a.get("Name") in spans._PY_METRICS]
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task Info": {"Accumulables": acc},
                "Task Metrics": {k: m[k] for k in keep if k in m}}
    return None


def main() -> None:
    from spatialjoincountovershells_spark import (
        decode_phash,
        get_spark,
        logspace_edges,
        shell_count,
    )

    tmp = tempfile.mkdtemp(prefix="perfbench-rec-")
    evdir = os.path.join(tmp, "ev")
    os.makedirs(evdir)
    os.environ["SJCS_CHECKPOINT_DIR"] = os.path.join(tmp, "ckpt")
    spark = get_spark(app="perfbench-record", master="local[2]",
                      driver_memory="1g", extra={
                          "spark.local.dir": os.path.join(tmp, "local"),
                          "spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + evdir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
    shape = {"kind": "uniform", "n_particles": 20_000, "n_halos": 2_000}
    pq, hq = gen.make_tables(1, shape)

    def table(q, id_col):
        pdf = pd.DataFrame({"id": np.arange(len(q), dtype=np.int64),
                            "phash": gen.phash(q)})
        return decode_phash(spark.createDataFrame(pdf)).withColumnRenamed(
            "id", id_col)

    halos, parts = table(hq, "halo_id"), table(pq, "particle_id")
    edges = logspace_edges(0.01, 40.0, 8)
    t = spans.Tracer("recorded", spark.sparkContext)
    rows = {}
    for plan in ("dgrid", "sql"):
        with t.span("query", plan=plan) as sq:
            with t.span("shell_count"):
                df = shell_count(halos, parts, edges, plan=plan)
            with t.span("write_parquet"):
                out = os.path.join(tmp, f"out_{plan}")
                df.write.mode("overwrite").parquet(out)
        rows[plan] = spark.read.parquet(out).count()
        sq["rows"] = rows[plan]
    spark.stop()
    (log,) = os.listdir(evdir)
    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(evdir, log)) as f, open(
            os.path.join(data, "eventlog_small.jsonl"), "w") as g:
        for line in f:
            ev = _trim(json.loads(line))
            if ev is not None:
                g.write(json.dumps(ev) + "\n")
    t.write(os.path.join(data, "spans_small.json"))
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
