"""Spans around the package's public entry points, and the Spark event
log parsed into per-layer counts.

Spans live only in this benchmark: ``install`` wraps the package
functions for the traced session and nothing in the package changes.
Each span also sets the Spark job description ``pb|<pass>|<layer>|<name>``
so every job in the event log is attributed to the innermost span that
submitted it; jobs outside any span (calibration, warm-up, checks) carry
no ``pb|`` prefix and are ignored.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from workloads import QUERY_MIX

DESC = "spark.job.description"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    layer: str
    name: str
    pass_id: int
    start: float
    end: float = 0.0
    child_s: float = 0.0  # time covered by direct children

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Tracer:
    sc: object
    pass_id: int = -1
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    counts: dict = field(default_factory=dict)  # (pass, key) -> number

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        prev = self.sc.getLocalProperty(DESC)
        s = Span(layer, name, self.pass_id, time.time())
        self.stack.append(s)
        self.sc.setJobDescription(f"pb|{self.pass_id}|{layer}|{name}")
        try:
            yield
        finally:
            s.end = time.time()
            self.stack.pop()
            if self.stack:
                self.stack[-1].child_s += s.end - s.start
            self.spans.append(s)
            self.sc.setLocalProperty(DESC, prev)

    def count(self, key: str, n: float) -> None:
        k = (self.pass_id, key)
        self.counts[k] = self.counts.get(k, 0) + n

    def wrap(self, owner, attr: str, layer: str, name: str, on_result=None):
        """Replace ``owner.attr`` by a spanned twin (``on_result`` sees
        the return value). Returns an undo callable."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(layer, name):
                out = orig(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)


def install(tracer: Tracer, spark, etl: bool) -> list:
    """Spans for the sources layer (every package module's reference to
    ``data.load_table``) and, for the ETL, the plans layer (transform,
    incremental filter, empty guard) and the sinks layer (the write).
    Returns undo callables."""
    from database_to_bigquery_spark import data

    load = data.load_table
    undo = [
        tracer.wrap(mod, "load_table", "sources", "load_table",
                    lambda _: tracer.count("sources.load_table_calls", 1))
        for name, mod in list(sys.modules.items())
        if name.startswith("database_to_bigquery_spark") and getattr(mod, "load_table", None) is load
    ]
    if etl:
        from database_to_bigquery_spark.plans.table_spec import TableSpec
        from database_to_bigquery_spark.sinks.writers import ParquetSink

        undo += [
            tracer.wrap(TableSpec, "transform", "plans", "transform"),
            tracer.wrap(TableSpec, "incremental_filter", "plans", "transform"),
            tracer.wrap(type(spark.range(1)), "isEmpty", "plans", "empty_guard",
                        lambda empty: tracer.count("plans.tables_skipped", int(empty))),
            tracer.wrap(ParquetSink, "write", "sinks", "write",
                        lambda rows: tracer.count("sinks.rows_written", rows)),
        ]
    return undo


# --- event log -------------------------------------------------------------


def _python_accumulators(plan: dict, into: dict) -> None:
    """Accumulator ids of the Python-runner SQL metrics in a plan tree:
    the nodes that report bytes sent to Python workers, and their rows."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_BYTES[0] in metrics:
        for name in PY_BYTES:
            if name in metrics:
                into[metrics[name]] = "bytes"
        if "number of output rows" in metrics:
            into[metrics["number of output rows"]] = "rows"
    for child in plan.get("children", []):
        _python_accumulators(child, into)


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the single event log under ``log_dir``. Returns (jobs,
    stages): jobs by id with description, interval and stage ids; stages
    by id with the job that first listed them (later jobs list a reused
    stage as skipped), completion flag and summed task metrics."""
    (name,) = os.listdir(log_dir)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    py_acc: dict[int, str] = {}
    with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:  # plan metadata first: accumulators precede their updates
        if ev["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "desc": (ev.get("Properties") or {}).get(DESC) or "",
                "t0": ev["Submission Time"] / 1000.0,
                "t1": None,
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
            for sid in jobs[ev["Job ID"]]["stages"]:
                stages.setdefault(sid, {}).setdefault("job", ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            stages.setdefault(ev["Stage Info"]["Stage ID"], {})["done"] = True
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            inp = m.get("Input Metrics") or {}
            add = {
                "tasks": 1,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "input_bytes": inp.get("Bytes Read", 0),
                "input_rows": inp.get("Records Read", 0),
                "python_bytes": 0, "python_rows": 0,
            }
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                kind_py = py_acc.get(acc.get("ID"))
                if kind_py == "bytes":
                    add["python_bytes"] += int(acc.get("Update", 0))
                elif kind_py == "rows":
                    add["python_rows"] += int(acc.get("Update", 0))
            m_st = st.setdefault("m", {})
            for k, v in add.items():
                m_st[k] = m_st.get(k, 0) + v
    return jobs, stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


ENGINE_KEYS = ("tasks", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "input_bytes", "input_rows", "python_bytes", "python_rows")


def pass_metrics(tracer: Tracer, windows: dict[int, tuple], jobs: dict,
                 stages: dict) -> dict[int, dict]:
    """Per traced pass: span self/inclusive times by layer, span counts,
    and the event-log engine metrics split by the layer of each job.
    ``windows`` maps pass id to (epoch start, epoch end, wall seconds)."""
    out: dict[int, dict] = {}
    for pid, (w0, w1, wall) in windows.items():
        spans = [s for s in tracer.spans if s.pass_id == pid]
        m: dict[str, float] = {"wall": wall, "unattributed_jobs": 0}

        def add(k, v):
            m[k] = m.get(k, 0) + v

        for s in spans:
            add(f"self.{s.layer}", s.self_s)
            add(f"incl.{s.layer}.{s.name.split(':')[0]}", s.end - s.start)
            if s.layer == "operators":
                add(f"q.{s.name.split(':', 1)[1]}.s", s.end - s.start)
        for key, n in [(k, v) for (p, k), v in tracer.counts.items() if p == pid]:
            add(key, n)
        intervals = []
        for jid, job in jobs.items():
            parts = job["desc"].split("|")
            if len(parts) != 4 or parts[0] != "pb":
                # a job submitted inside the pass window but outside any span
                add("unattributed_jobs", int(w0 <= job["t0"] <= w1))
                continue
            if int(parts[1]) != pid:
                continue
            layer, name = parts[2], parts[3]
            t1 = job["t1"] if job["t1"] is not None else job["t0"]
            intervals.append((job["t0"], t1))
            add("jobs", 1)
            add(f"jobs.{layer}.{name.split(':')[0]}", 1)
            if layer == "operators":
                add(f"q.{name.split(':', 1)[1]}.jobs", 1)
            for sid in job["stages"]:
                st = stages.get(sid, {})
                if not st.get("done") or st["job"] != jid:
                    continue  # skipped here: its output was reused
                add("stages", 1)
                for k in ENGINE_KEYS:
                    v = st.get("m", {}).get(k, 0)
                    add(k, v)
                    if k == "tasks":
                        add(f"tasks.{layer}.{name.split(':')[0]}", v)
        m["job_busy_s"] = _union_s(intervals)
        m["driver_gap_s"] = wall - m["job_busy_s"]
        out[pid] = m
    return out


def per_layer(passes: dict[int, dict]) -> dict[str, float]:
    """Median over traced passes of each per-layer metric (0 where the
    workload does not reach the layer)."""

    def med(key: str) -> float:
        return statistics.median(p.get(key, 0) for p in passes.values())

    out = {
        "sinks.write_s": med("incl.sinks.write"),
        "sinks.write_jobs": med("jobs.sinks.write"),
        "sinks.write_tasks": med("tasks.sinks.write"),
        "sinks.files_written": med("sinks.files_written"),
        "sinks.partitions_written": med("sinks.partitions_written"),
        "sinks.bytes_written": med("sinks.bytes_written"),
        "sinks.rows_written": med("sinks.rows_written"),
        "plans.transform_s": med("incl.plans.transform"),
        "plans.empty_guard_s": med("incl.plans.empty_guard"),
        "plans.empty_guard_jobs": med("jobs.plans.empty_guard"),
        "plans.tables_skipped": med("plans.tables_skipped"),
        "sources.load_table_s": med("incl.sources.load_table"),
        "sources.load_table_calls": med("sources.load_table_calls"),
        "sources.input_bytes": med("input_bytes"),
        "sources.input_rows": med("input_rows"),
        "operators.build_s": med("incl.operators.build"),
        "operators.execute_s": med("incl.operators.execute"),
        "functions.python_rows": med("python_rows"),
        "functions.python_bytes": med("python_bytes"),
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.tasks": med("tasks"),
        "spark.job_busy_s": med("job_busy_s"),
        "spark.driver_gap_s": med("driver_gap_s"),
        "spark.task_cpu_s": med("cpu_s"),
        "spark.gc_s": med("gc_s"),
        "spark.shuffle_read_bytes": med("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
        "spark.spill_bytes": med("spill_bytes"),
    }
    files, parts = out["sinks.files_written"], out["sinks.partitions_written"]
    out["sinks.files_per_partition"] = files / parts if parts else 0.0
    for q in QUERY_MIX:
        out[f"operators.{q}.s"] = med(f"q.{q}.s")
        out[f"operators.{q}.jobs"] = med(f"q.{q}.jobs")
    # every span's self time; their sum over the pass wall is what the
    # self-test checks (the rest is harness time between spans)
    layers = {k for p in passes.values() for k in p if k.startswith("self.")}
    out["trace.accounted"] = statistics.median(
        sum(p.get(k, 0) for k in layers) / p["wall"] for p in passes.values()
    )
    out["trace.unattributed_jobs"] = sum(p["unattributed_jobs"] for p in passes.values())
    return out
