"""The event-log parser reads a small recorded traced run, and spans
report self times.  Data: ``record_eventlog.py`` (two queries on 20k
particles x 2k halos: plan='dgrid', then plan='sql')."""

import json
import os
import time

import pytest

import spans

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "spans_small.json")) as f:
        sp = json.load(f)["spans"]
    log = spans.parse_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    return sp, log


def _query_summary(sp, log, plan):
    (q,) = [s for s in sp if s["name"] == "query" and s["plan"] == plan]
    ids = {q["id"]} | {s["id"] for s in sp if s["parent"] == q["id"]}
    descs = {f"perfbench:{s['run']}:{s['id']}:{s['name']}" for s in sp
             if s["id"] in ids}
    return q, spans.summarize(log, lambda d: d in descs)


def test_jobs_carry_span_descriptions(recorded):
    sp, log = recorded
    descs = {j["desc"] for j in log["jobs"].values() if j["desc"]}
    assert descs, "no job carried a span description"
    assert all(d.startswith("perfbench:recorded:") for d in descs)
    assert {d.split(":")[-1] for d in descs} == {"shell_count", "write_parquet"}


def test_python_worker_query(recorded):
    q, s = _query_summary(*recorded, "dgrid")
    assert s["jobs"] >= 1 and s["tasks"] >= 1
    assert s["py_bytes_in"] > 0 and s["py_bytes_out"] > 0
    assert s["py_run"] > 0
    assert s["records_written"] == q["rows"]
    assert s["skew_ratio"] >= 1.0


def test_shuffle_query(recorded):
    q, s = _query_summary(*recorded, "sql")
    assert s["shuffle_write_bytes"] > 0
    assert s["shuffle_read_bytes"] == s["shuffle_write_bytes"]
    assert s["py_bytes_in"] == 0
    assert s["records_written"] == q["rows"]
    assert s["cpu_s"] > 0 and s["run_s"] > 0


def test_self_time_subtracts_children():
    t = spans.Tracer("r")
    with t.span("parent"):
        with t.span("child"):
            time.sleep(0.02)
        time.sleep(0.01)
    parent, child = t.with_self_times()
    assert child["parent"] == parent["id"]
    assert child["self_s"] == pytest.approx(child["dur_s"])
    assert parent["self_s"] == pytest.approx(parent["dur_s"] - child["dur_s"])
    assert parent["self_s"] >= 0.009
    assert t.descendants(parent["id"]) == {parent["id"], child["id"]}


def test_disabled_tracer_records_nothing():
    t = spans.Tracer("r", enabled=False)
    with t.span("x") as s:
        pass
    assert s is None and t.spans == []
