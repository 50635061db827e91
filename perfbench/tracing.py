"""The traced run: span wrappers around the package's public functions,
plus attribution of Spark's own event log to those spans.

Wrappers are installed from outside the package. Each one records a
span (name, start, end, parent, thread) and, while it runs, sets the
calling thread's Spark local property ``perfbench.span`` to the span
id, so every job the call submits carries it into the event log. Task
and SQL metrics are then summed per span from the log after the
session stops.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
PACKAGE = "airline_data_pipeline_spark"

# (module, function, span name). Modules that imported one of these by
# name are patched too (e.g. pipeline.runner's write_parquet).
TARGETS = [
    ("session", "get_spark", "session.get_spark"),
    ("pipeline.runner", "run_pipeline", "pipeline.run_pipeline"),
    ("pipeline.runner", "build_flights", "pipeline.build_flights"),
    ("io.readers", "read_flights_csv", "io.read_flights_csv"),
    ("io.readers", "read_weather_json", "io.read_weather_json"),
    ("io.readers", "table", "io.table"),
    ("io.writers", "write_parquet", "io.write_parquet"),
    ("io.writers", "write_json_summary", "io.write_json_summary"),
    ("operators.cleaning", "clean_flight_data", "operators.cleaning.clean_flight_data"),
    ("operators.cleaning", "derive_delays", "operators.cleaning.derive_delays"),
    ("operators.validation", "observed", "operators.validation.observed"),
    ("operators.validation", "validate_processed_flights",
     "operators.validation.validate_processed_flights"),
    ("operators.pagination", "keyset_page", "operators.pagination.keyset_page"),
    ("operators.topk", "top_k", "operators.topk.top_k"),
    ("operators.topk", "grouped_count_top_k", "operators.topk.grouped_count_top_k"),
    ("queries.airline", "airline_performance", "queries.airline.airline_performance"),
    ("queries.airline", "route_analysis", "queries.airline.route_analysis"),
    ("queries.airline", "performance_summary", "queries.airline.performance_summary"),
    ("queries.airline", "route_summary", "queries.airline.route_summary"),
    ("queries.api", "flights_page", "queries.api.flights_page"),
    ("queries.api", "metrics_summary", "queries.api.metrics_summary"),
    ("queries.api", "airports_list", "queries.api.airports_list"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: int
    region: str
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """Holds spans in memory; ``enabled`` turns recording on and off
    without removing the wrappers."""

    def __init__(self) -> None:
        self.spans: dict[int, Span] = {}
        self.enabled = False
        self.region = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every TARGETS function, and rebind the name in every
        loaded package module that holds the original object."""
        import importlib

        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            orig = getattr(mod, attr)
            wrapped = self.wrap(span_name, orig)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans.values()], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        from pyspark import SparkContext

        t = self.t
        stack = t._stack()
        parent = stack[-1].sid if stack else None
        self.span = Span(next(t._ids), self.name, parent, threading.get_ident(),
                         t.region, time.perf_counter())
        stack.append(self.span)
        self.sc = SparkContext._active_spark_context
        if self.sc is not None:
            self.prev = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, str(self.span.sid))
        return self.span

    def __exit__(self, *exc):
        s = self.span
        s.end = time.perf_counter()
        stack = self.t._stack()
        stack.pop()
        if stack:
            stack[-1].children_s += s.dur
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, self.prev)
        self.t.spans[s.sid] = s
        return False


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
@dataclass
class Job:
    job_id: int
    span: int | None
    execution_id: int | None
    submit_ms: int
    stages: list[int]
    first_launch_ms: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    accum: dict = field(default_factory=lambda: defaultdict(int))


@dataclass
class EventLog:
    jobs: dict[int, Job]
    plans: dict[int, list[str]]        # execution id -> plan descriptions
    scan_accums: dict[int, str]        # accumulator id -> parquet scan metric name
    driver_accum: dict[int, int]       # accumulator id -> summed driver updates
    driver_accum_exec: dict[int, int]  # accumulator id -> execution id


def _walk_plan(info: dict, scan_accums: dict[int, str]) -> None:
    if info.get("nodeName", "").startswith("Scan parquet"):
        for m in info.get("metrics", []):
            scan_accums[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _walk_plan(c, scan_accums)


def _event_files(log_dir: str) -> list[str]:
    """Spark 4 writes a rolling log: ``eventlog_v2_<app>/events_<n>_<app>``."""
    (app,) = [d for d in os.listdir(log_dir) if not d.startswith(".")]
    path = os.path.join(log_dir, app)
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def read_event_log(log_dir: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, list[str]] = defaultdict(list)
    scan_accums: dict[int, str] = {}
    driver_accum: dict[int, int] = defaultdict(int)
    driver_accum_exec: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROPERTY)
                    exe = props.get("spark.sql.execution.id")
                    job = Job(ev["Job ID"], int(span) if span else None,
                              int(exe) if exe is not None else None,
                              ev["Submission Time"], ev["Stage IDs"])
                    jobs[job.job_id] = job
                    for s in job.stages:
                        stage_job.setdefault(s, job.job_id)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    launch = info["Launch Time"]
                    if job.first_launch_ms is None or launch < job.first_launch_ms:
                        job.first_launch_ms = launch
                    job.tasks += 1
                    job.run_ms += m.get("Executor Run Time", 0)
                    job.cpu_ns += m.get("Executor CPU Time", 0)
                    job.gc_ms += m.get("JVM GC Time", 0)
                    job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for a in info.get("Accumulables", []):
                        upd = a.get("Update")
                        if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
                            job.accum[(a["ID"], a.get("Name"))] += int(upd)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plans[ev["executionId"]].append(ev.get("physicalPlanDescription", ""))
                    _walk_plan(ev.get("sparkPlanInfo", {}), scan_accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        driver_accum[acc_id] += value
                        driver_accum_exec[acc_id] = ev["executionId"]
    return EventLog(jobs, dict(plans), scan_accums, dict(driver_accum), driver_accum_exec)


def scans_csv(log: EventLog, job: Job) -> bool:
    return job.execution_id is not None and any(
        "Scan csv" in p or "FileScan csv" in p for p in log.plans.get(job.execution_id, [])
    )
