"""Spans around public calls, and the Spark event-log parser.

Spans are recorded only in a traced run.  Each span holds its name,
start, end, parent and the run id; spans stay in memory and are written
out as JSON when the run ends, with each span's self time (its duration
minus the part its child spans cover).  While a span is open, its id is
the Spark job description, so the event log's jobs, stages and tasks
can be attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Tracer:
    def __init__(self, run_id: str, spark_context=None, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self._describe(self.desc(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._describe(prev)

    def desc(self, sid: int) -> str:
        return f"perfbench:{self.run_id}:{sid}:{self.spans[sid]['name']}"

    def _describe(self, desc: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.job.description", desc)
        return prev

    def with_self_times(self) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def descendants(self, sid: int) -> set[int]:
        ids = {sid}
        for s in self.spans:  # parents always precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.with_self_times(),
                       **(extra or {})}, f, indent=1)


# --------------------------------------------------------------------------
# Spark JSON event log

_PY_METRICS = {
    "time to start Python workers": "py_start",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}
_NS_PER = {"timing": 1e-3, "nsTiming": 1e-9}  # -> seconds


def _plan_metric_types(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for c in node.get("children", []):
        _plan_metric_types(c, out)


def parse_event_log(path: str) -> dict:
    """Read a Spark JSON event log -> {"jobs": {job_id: {...}},
    "tasks": [per-task dict]}.  Each job carries its description and
    stage ids; each task its stage id and the metrics this benchmark
    reports (seconds and bytes)."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    mtypes: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_types(ev["sparkPlanInfo"], mtypes)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "stages": list(ev.get("Stage IDs", [])),
                    "start_ms": ev.get("Submission Time"),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev, mtypes))
    return {"jobs": jobs, "tasks": tasks}


def _task(ev: dict, mtypes: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    t = {
        "stage": ev["Stage ID"],
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "records_written": (m.get("Output Metrics") or {}).get(
            "Records Written", 0),
    }
    for k in _PY_METRICS.values():
        t[k] = 0.0
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_METRICS.get(a.get("Name"))
        if key is None or a.get("Update") is None:
            continue
        # time metrics are ms ("timing") or ns ("nsTiming"); sizes are bytes
        t[key] += float(a["Update"]) * _NS_PER.get(mtypes.get(a.get("ID")), 1.0)
    return t


def summarize(log: dict, desc_ok) -> dict:
    """Totals over the jobs whose description satisfies `desc_ok`:
    job count, task metrics summed, and the skew of the longest stage
    (max / median task run time of the stage with the most run time)."""
    jobs = [j for j in log["jobs"].values() if j["desc"] and desc_ok(j["desc"])]
    stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    keys = [k for k in (tasks[0] if tasks else {}) if k != "stage"]
    out = {k: sum(t[k] for t in tasks) for k in keys}
    out["jobs"] = len(jobs)
    out["tasks"] = len(tasks)
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    if by_stage:
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else float(len(runs))
    out["skew_ratio"] = skew
    return out
