"""SJCS benchmark: one workload, one seed, closed loop.

    python3 perfbench/run.py --workload shells_ref --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  It generates the seeded inputs
(cached by workload and seed under ``.perfbench_work/``, outside every
timed region), starts Spark as ``local[N]`` with N the CPUs this
process may run on (the whole process tree pinned to them), and runs
one query at a time until ``--seconds`` of timed queries have passed.
Every query's output is checked against a numpy brute force on a fixed
sample of halos.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a
separate run with Spark's JSON event log on and spans around every
public call, and prints the per-layer metrics.  Both print a readable
report first and, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Workloads, metrics
and what each layer metric should move: NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import gen
import oracle
import procfs
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# untimed queries after set-up: the tree's CPU per query falls steeply
# for the first four (JIT compilation of Spark and of generated code,
# heap growth) and slowly after; more would not fit the run budget
WARMUP_QUERIES = 5
MIN_QUERIES = 3  # timed queries per run, whatever --seconds says
MAX_RUN_S = 150.0  # stop starting queries past this, to end within 180 s
STEAL_WARN = 0.05  # host steal share above which a run's times are suspect
# the end-to-end metrics BENCHMARK.json bounds; the wall-time and memory
# figures are printed too, but host steal and GC timing move them by more
# than any bound could allow (NOTES.md)
BOUNDED = ("core_s", "probes_per_core_s", "setup_s")
_H = ("_hx", "_hy", "_hz")
_P = ("_px", "_py", "_pz")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------------
# Spark session lifecycle


def session_conf(run_dir: str, eventlog_dir: str | None) -> dict[str, str]:
    """Everything Spark writes goes under the run directory (no
    hsperfdata file in the system temp directory either); the UI is off
    (get_spark's default) and the event log, when on, is a local file.
    Heap and memory settings stay get_spark's own."""
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until every process it started
    (JVM, PySpark daemon, workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in procfs.tree() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = procfs.wait_gone(started)
    if left:
        raise RuntimeError(f"processes still alive after stop: {left}")


def read_inputs(spark, in_dir: str):
    from spatialjoincountovershells_spark import decode_phash

    parts = decode_phash(spark.read.parquet(os.path.join(in_dir, "particles")))
    halos = decode_phash(spark.read.parquet(os.path.join(in_dir, "halos")))
    return (halos.withColumnRenamed("id", "halo_id"),
            parts.withColumnRenamed("id", "particle_id"))


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# one run


class Run:
    def __init__(self, args):
        from spatialjoincountovershells_spark.functions.shells import (
            logspace_edges,
        )

        self.args = args
        self.w = workloads.WORKLOADS[args.workload]
        self.cpus = sorted(os.sched_getaffinity(0))
        os.sched_setaffinity(0, self.cpus)  # children inherit the mask
        self.n = len(self.cpus)
        self.master = f"local[{self.n}]"
        self.run_dir = os.path.join(WORK, "runs", str(os.getpid()))
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "ckpt", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, sub))
        os.environ.update({
            "TMPDIR": os.path.join(self.run_dir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "SJCS_CHECKPOINT_DIR": os.path.join(self.run_dir, "ckpt"),
            "PYSPARK_PYTHON": sys.executable,
        })
        self.tracer = spans.Tracer(
            f"{self.w.name}-s{args.seed}-{os.getpid()}", enabled=bool(args.trace))
        self.n_p = self.w.shape["n_particles"]
        self.n_h = self.w.shape["n_halos"]
        self.edges = logspace_edges(self.w.rmax / 5000, self.w.rmax,
                                    workloads.N_SHELLS)
        self.queries: list[dict] = []
        self.sampler: procfs.PeakRss | None = None

    # ---- inputs and oracle (untimed) ----
    def prepare(self) -> None:
        import numpy as np

        w, seed = self.w, self.args.seed
        self.in_dir, pq, hq = gen.ensure_inputs(
            os.path.join(WORK, "inputs"), w.name, seed, w.shape)
        self.sample = oracle.sample_ids(seed, self.n_h, w.sample)
        P = gen.positions_f32(pq)
        e = self.edges.astype(np.float32)
        self.expected = oracle.shell_counts(
            gen.positions_f32(hq[self.sample]), P, e * e, workloads.BOX)
        if self.args.trace:
            self.knn_sample = oracle.sample_ids(seed, workloads.KNN_PROBE_HALOS, 16)
            self.knn_expected = oracle.knn_ids(
                gen.positions_f32(hq[self.knn_sample]), P,
                np.arange(self.n_p, dtype=np.int64), workloads.KNN_K,
                workloads.BOX)

    # ---- set-up: session start (launches the JVM) + first read ----
    def setup(self) -> None:
        """One cold set-up per run: each launches a JVM (about 10 s on a
        4-CPU host), so repeating it would not fit a run."""
        from spatialjoincountovershells_spark import get_spark

        evdir = os.path.join(self.run_dir, "eventlog") if self.args.trace else None
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("get_spark"):
                self.spark = get_spark(app=f"perfbench-{self.w.name}",
                                       master=self.master,
                                       extra=session_conf(self.run_dir, evdir))
            t1 = time.perf_counter()
            self.tracer.sc = self.spark.sparkContext
            with self.tracer.span("read_decode_phash"):
                self.halos, self.parts = read_inputs(self.spark, self.in_dir)
                noop_sink(self.parts)
                noop_sink(self.halos)
        self.start_s, self.setup_s = t1 - t0, time.perf_counter() - t0
        with self.tracer.span("choose_plan") as sp:
            t0 = time.perf_counter()
            self.plan = workloads.plan_for(self.w)
            self.plan_s = time.perf_counter() - t0
        if sp is not None:
            sp["plan"] = self.plan

    # ---- queries ----
    def _cpu(self) -> dict[str, float]:
        """CPU by role so far, without the memory sampler's own."""
        cpu = procfs.cpu_by_role()
        if self.sampler is not None:
            s = self.sampler.cpu_s()
            cpu["driver"] -= s
            cpu["total"] -= s
        return cpu

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def query(self, i: int, timed: bool) -> None:
        w, out = self.w, os.path.join(self.run_dir, "out")
        sink_name = "checkpoint" if w.name == "shells_clustered_shuffle" \
            else "write_parquet"
        jvm_pids = [p for p, st in procfs.tree().items() if st[1] == "java"]
        rec = {"i": i, "timed": timed, "ok": False}
        self.queries.append(rec)
        cpu0 = self._cpu()
        steal0 = procfs.steal_ticks()
        pers0 = self._persisted()
        try:
            t0 = time.perf_counter()
            with self.tracer.span("query", i=i, timed=timed) as sq:
                with self.tracer.span("shell_count"):
                    df = workloads.call(w, self.halos, self.parts, self.edges,
                                        self.plan)
                t1 = time.perf_counter()
                with self.tracer.span(sink_name):
                    workloads.sink(w, df, out, f"{w.name}-{self.args.seed}-{i}")
            t2 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            rec["error"] = "exception"
            return
        cpu1 = self._cpu()
        steal1 = procfs.steal_ticks()
        rec.update({
            "span": sq["id"] if sq else None,
            "query_s": t2 - t0, "call_s": t1 - t0, "sink_s": t2 - t1,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "persisted_delta": self._persisted() - pers0,
            "driver_jvm_rss_mb": procfs.rss_mb([os.getpid(), *jvm_pids]),
        })
        try:
            rec["error"] = self.check(out)
        except Exception:
            traceback.print_exc()
            rec["error"] = "check raised"
        rec["ok"] = rec["error"] is None
        if not rec["ok"]:
            print(f"query {i}: WRONG ANSWER: {rec['error']}", file=sys.stderr)

    def check(self, out: str) -> str | None:
        """Read the sampled halos' rows straight from the written parquet
        files (no Spark job, so the session only ever runs the workload)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        rows = ds.dataset(out, format="parquet").to_table(
            filter=pc.field("halo_id").isin(self.sample)).to_pandas()
        return oracle.check_shells(rows, self.sample, self.expected)

    def loop(self, t_run0: float) -> None:
        while len(self.queries) < WARMUP_QUERIES:
            self.query(len(self.queries), timed=False)
        measured, n = 0.0, 0
        while (n < MIN_QUERIES or measured < self.args.seconds) and (
                time.perf_counter() - t_run0 < MAX_RUN_S):
            self.query(len(self.queries), timed=True)
            measured += self.queries[-1].get("query_s", 0.0)
            n += 1

    def timed_ok(self) -> list[dict]:
        return [q for q in self.queries if q["timed"] and q["ok"]]

    # ---- isolated layer probes (traced run only, after the timed loop) ----
    def probes(self) -> dict:
        import math

        from pyspark.sql import functions as F

        from spatialjoincountovershells_spark import (
            explode_ring,
            grid_ncells,
            knn,
            with_cell,
        )
        from spatialjoincountovershells_spark.functions.geometry import (
            squared_distance_expr,
        )

        w, box, t = self.w, workloads.BOX, self.tracer
        res = {}
        with t.span("probe.scan_decode") as sp:
            halos, parts = read_inputs(self.spark, self.in_dir)
            noop_sink(parts)
            noop_sink(halos)
        res["scan_span"] = sp["id"]
        # the grid the join plans run on: ring-k cells, Euclidean prune
        radius = w.rmax
        nc = grid_ncells(radius, box, n_hint=self.n_p)
        k = max(1, math.ceil(radius / (box / nc) - 1e-9))
        h = halos.select("halo_id", *[F.col(c).alias(a) for c, a in zip("xyz", _H)])
        p = parts.select(*[F.col(c).alias(a) for c, a in zip("xyz", _P)])
        with t.span("probe.with_cell") as sp:
            pc = with_cell(p, nc, box, cols=_P)
            noop_sink(pc)
        res["cells.assign_s"] = sp["end"] - sp["start"]
        with t.span("probe.explode_ring") as sp:
            hx = explode_ring(h, nc, box, cols=_H, k=k, prune_radius=radius)
            noop_sink(hx)
        res["cells.explode_s"] = sp["end"] - sp["start"]
        with t.span("probe.ring_rows"):
            res["cells.ring_rows"] = hx.count()
        with t.span("probe.ring_join"):
            d2 = squared_distance_expr(_H, _P, box, "float32")
            row = (hx.join(pc, "cell_id").select(d2.alias("d2"))
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.when(F.col("d2") < F.lit(radius * radius), 1)
                              .otherwise(0)).alias("useful"))
                   .first())
        res["cells.candidate_pairs"] = int(row["n"])
        res["cells.useful_ratio"] = int(row["useful"] or 0) / max(1, int(row["n"]))
        res["probe_grid"] = {"ncells": nc, "ring_k": k, "radius": radius}
        # exact periodic kNN by ring widening, on the first halos
        sub = halos.where(F.col("halo_id") < workloads.KNN_PROBE_HALOS)
        pers0 = self._persisted()
        with t.span("probe.knn") as sp:
            top = knn(sub, parts, k=workloads.KNN_K, box=box,
                      n_particles_est=self.n_p)
        res["knn_span"] = sp["id"]
        res["knn.persisted_delta"] = self._persisted() - pers0
        rows = top.where(F.col("halo_id").isin([int(x) for x in self.knn_sample]))
        err = oracle.check_knn(rows.toPandas(), self.knn_sample, self.knn_expected)
        self.queries.append({"i": "knn_probe", "timed": False,
                             "ok": err is None, "error": err})
        if err:
            print(f"knn probe: WRONG ANSWER: {err}", file=sys.stderr)
        return res


# --------------------------------------------------------------------------
# metrics


def end_to_end(run: Run, peak_mb: float) -> dict:
    ok = run.timed_ok()
    qs = _median([q["query_s"] for q in ok])
    cs = _median([q["cpu"]["total"] for q in ok])
    return {
        "query_s": (qs, "s"),
        "probes_per_s": (run.n_h / qs if qs else 0.0, "probes/s"),
        "core_s": (cs, "CPU.s"),
        "probes_per_core_s": (run.n_h / cs if cs else 0.0, "probes/CPU.s"),
        "setup_s": (run.setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(run: Run, probes: dict, log: dict,
              peak: procfs.PeakRss) -> tuple[dict, dict]:
    """-> (per-layer metrics, extra detail for the trace JSON)."""
    t = run.tracer
    sid_of = {}
    for s in t.spans:
        sid_of[t.desc(s["id"])] = s["id"]

    def summary(sids: set[int]) -> dict:
        return spans.summarize(log, lambda d: sid_of.get(d) in sids)

    ok = run.timed_ok()
    per_q = [summary(t.descendants(q["span"])) for q in ok]

    def mean_q(key):
        return _mean([s[key] for s in per_q])

    scan = summary({probes["scan_span"]})
    rss = [q["driver_jvm_rss_mb"] for q in ok]
    layer = {
        "session.start_s": (run.start_s, "s"),
        "sources.scan_decode_s": (_span_s(t, probes["scan_span"]), "s"),
        "sources.rows_read": (scan["records_read"], "rows"),
        "shell_count.choose_plan_s": (run.plan_s, "s"),
        "shell_count.call_s": (_median([q["call_s"] for q in ok]), "s"),
        "shell_count.action_s": (_median([q["sink_s"] for q in ok]), "s"),
        "pipeline.rows_written": (mean_q("records_written"), "rows"),
        "cells.assign_s": (probes["cells.assign_s"], "s"),
        "cells.explode_s": (probes["cells.explode_s"], "s"),
        "cells.ring_rows": (probes["cells.ring_rows"], "rows"),
        "cells.candidate_pairs": (probes["cells.candidate_pairs"], "pairs"),
        "cells.useful_ratio": (probes["cells.useful_ratio"], "ratio"),
        "shuffle.write_bytes": (mean_q("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (mean_q("shuffle_read_bytes"), "bytes"),
        "shuffle.spill_bytes": (mean_q("spill_bytes"), "bytes"),
        "pyworker.bytes_in": (mean_q("py_bytes_in"), "bytes"),
        "pyworker.bytes_out": (mean_q("py_bytes_out"), "bytes"),
        "jvm.cpu_s": (_median([q["cpu"]["jvm"] for q in ok]), "CPU.s"),
        "driver.cpu_s": (_median([q["cpu"]["driver"] for q in ok]), "CPU.s"),
        "driver.rss_growth_mb": (rss[-1] - rss[0] if rss else 0.0, "MB"),
        "driver.peak_rss_mb": (peak.peak_by_role["driver"], "MB"),
        "jvm.peak_rss_mb": (peak.peak_by_role["jvm"], "MB"),
        "pyworker.peak_rss_mb": (peak.peak_by_role["pyworker"], "MB"),
        "spark.jobs": (mean_q("jobs"), "jobs"),
        "spark.tasks.skew_ratio": (_median([s["skew_ratio"] for s in per_q]),
                                   "ratio"),
        "exec.core_util": (_median(
            [(q["cpu"]["jvm"] + q["cpu"]["pyworker"]) / (q["query_s"] * run.n)
             for q in ok]), "ratio"),
        "cache.persisted_delta": (_mean([q["persisted_delta"] for q in ok]),
                                  "rdds"),
        "knn.call_s": (_span_s(t, probes["knn_span"]), "s"),
        "knn.jobs": (summary(t.descendants(probes["knn_span"]))["jobs"], "jobs"),
        "knn.persisted_delta": (probes["knn.persisted_delta"], "rdds"),
        "trace.query_s": (_median([q["query_s"] for q in ok]), "s"),
    }
    detail = {
        "per_query_eventlog": per_q,
        "pyworker_times_s": {k: mean_q(k) for k in ("py_start", "py_init",
                                                    "py_run")},
        "shuffle_fetch_wait_s": mean_q("fetch_wait_s"),
        "jvm_gc_s": mean_q("gc_s"),
        "pyworker_cpu_s": _median([q["cpu"]["pyworker"] for q in ok]),
        "probe_grid": probes["probe_grid"],
    }
    return layer, detail


def _span_s(t: spans.Tracer, sid: int) -> float:
    s = t.spans[sid]
    return s["end"] - s["start"]


def code_digest() -> str:
    """sha1 over the source of the package and of this benchmark (paths
    and bytes): names the code a run measured, so a traced run is only
    ever compared with untraced runs of the same code."""
    import hashlib

    h = hashlib.sha1()
    for top in ("spatialjoincountovershells_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _untraced_query_s(w: workloads.Workload, digest: str) -> list[float]:
    """query_s of every untraced run of this workload in this checkout
    that measured the same code."""
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    return [r["query_s"] for r in recs
            if r["workload"] == w.name and r.get("code") == digest]


def report(run: Run, metrics: dict, stamp: dict) -> None:
    w = run.w
    print(f"perfbench {w.name} seed={run.args.seed} trace={run.args.trace} "
          f"master={run.master} plan={run.plan}")
    print("host " + json.dumps(stamp))
    att = len(run.queries)
    bad = sum(not q["ok"] for q in run.queries)
    ok = run.timed_ok()
    for name, (v, unit) in metrics.items():
        note = "" if run.args.trace or name in BOUNDED else "  (not bounded)"
        print(f"  {name:<24} {v:>16.6g} {unit}{note}")
    print(f"  {'error_rate':<24} {bad / att if att else 0.0:>16.6g} ratio "
          f"({bad} failed of {att} attempted)")
    print("  query_s in order (warm-up first): " + " ".join(
        f"{q['query_s']:.3f}" for q in run.queries if "query_s" in q))
    print("  shell_count() return time in order, s: " + " ".join(
        f"{q['call_s']:.3f}" for q in run.queries if "call_s" in q))
    print("  CPU s of the tree per query in order: " + " ".join(
        f"{q['cpu']['total']:.2f}" for q in run.queries if "cpu" in q))
    print("  host steal share per query: " + " ".join(
        f"{q['steal_share']:.3f}" for q in run.queries if "steal_share" in q))
    steal = _median([q["steal_share"] for q in ok])
    if steal > STEAL_WARN:
        print(f"  WARNING: the hypervisor took {steal:.0%} of the host's CPU "
              "time during the median timed query; wall and CPU times read "
              "high (see NOTES.md)")
    if "query_s" in metrics and ok:
        ts = sorted(q["query_s"] for q in ok)
        pps = metrics["probes_per_s"][0] / run.n
        print(f"  timed queries: n={len(ts)} min={ts[0]:.4f} "
              f"median={metrics['query_s'][0]:.4f} max={ts[-1]:.4f} s; "
              f"{pps:,.0f} probes/s/core of wall time, "
              f"{metrics['probes_per_core_s'][0]:,.0f} probes per CPU second "
              f"(reference: {workloads.REF_PROBES_PER_S_PER_THREAD:,} "
              "probes/s/thread)")


# --------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)  # the package under test, from this checkout
    import spatialjoincountovershells_spark as pkg

    if os.path.dirname(os.path.abspath(pkg.__file__)) != os.path.join(
            ROOT, "spatialjoincountovershells_spark"):
        sys.exit(f"perfbench: the package is not this checkout's: {pkg.__file__}")

    t_run0 = time.perf_counter()
    digest = code_digest()
    run = Run(args)
    stamp = procfs.host_stamp(run.cpus)
    stamp["steal_probe_start_s"] = procfs.steal_probe()
    steal0 = procfs.steal_s()
    try:
        run.prepare()
        try:
            with procfs.PeakRss() as peak:
                run.sampler = peak
                run.setup()
                run.loop(t_run0)
            run.sampler = None
            probes = run.probes() if args.trace else None
        finally:
            run.tracer.sc = None
            if hasattr(run, "spark"):
                stop_session(run.spark)
        stamp["steal_probe_end_s"] = procfs.steal_probe()
        stamp["hypervisor_steal_s"] = procfs.steal_s() - steal0
        stamp["peak_mem_mb"] = {"tree": round(peak.peak_mb, 1), **{
            f"{k}_at_tree_peak": round(v, 1) for k, v in peak.at_peak.items()}}
        if args.trace:
            evdir = os.path.join(run.run_dir, "eventlog")
            (evfile,) = [os.path.join(evdir, f) for f in os.listdir(evdir)]
            metrics, detail = per_layer(run, probes,
                                        spans.parse_event_log(evfile), peak)
            base = _untraced_query_s(run.w, digest)
            traced = metrics["trace.query_s"][0]
            detail["tracing_overhead"] = {
                "traced_query_s": traced,
                "untraced_median_query_s": _median(base) if base else None,
                "untraced_runs": len(base),
                "overhead_ratio": traced / _median(base) - 1 if base else None,
            }
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tpath = os.path.join(WORK, "traces", f"{run.tracer.run_id}.json")
            run.tracer.write(tpath, {"metrics": metrics, "host": stamp, **detail})
        else:
            metrics = end_to_end(run, peak.peak_mb)
            with open(os.path.join(WORK, "results.jsonl"), "a") as f:
                f.write(json.dumps({"workload": run.w.name, "code": digest,
                                    "seed": args.seed,
                                    "query_s": metrics["query_s"][0]}) + "\n")
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
    report(run, metrics, stamp)
    if args.trace:
        print(f"  pyworker CPU per query (trace JSON only): "
              f"{detail['pyworker_cpu_s']:.3f} CPU.s")
        ov = detail["tracing_overhead"]
        if ov["overhead_ratio"] is not None:
            print(f"  tracing overhead: {ov['overhead_ratio']:+.1%} query_s vs "
                  f"the untraced median of {ov['untraced_runs']} runs of the "
                  "same code here")
        else:
            print("  tracing overhead: unknown, no untraced run of this "
                  "workload and code here yet")
        self_s: dict[str, list[float]] = {}
        for sp in run.tracer.with_self_times():
            self_s.setdefault(sp["name"], []).append(sp["self_s"])
        print("  span self time, s (total / count): " + ", ".join(
            f"{k} {sum(v):.3f}/{len(v)}" for k, v in self_s.items()))
        print(f"  spans + event-log counters: {os.path.relpath(tpath, ROOT)}")
    failed = sum(not q["ok"] for q in run.queries)
    print(json.dumps({
        "correct": failed == 0 and bool(run.timed_ok()),
        "attempted": len(run.queries),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if args.trace or k in BOUNDED},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
