"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One invocation = one workload in one
fresh Spark process. The last line of standard output is a JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airline_data_pipeline_spark"
DRIVER_MEM = "3g"
SPARK_SUBMIT_CLASS = b"org.apache.spark.deploy.SparkSubmit"

sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import WORKLOADS, Context  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_ops_per_s": "1/s",
    "warehouse_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "ok_op_ratio": "ratio",
}

SUITE_QUERIES = [q for w in ("analytics_sf01", "corpus_dedup_knn") for q in WORKLOADS[w].queries]
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "pipeline.run_pipeline.self_s": "s",
    "pipeline.jobs_per_run": "count",
    "io.csv_scan_passes": "count",
    "io.csv_input_mb": "MB",
    "io.write_parquet.self_s": "s",
    "io.write_parquet.output_mb": "MB",
    "io.write_parquet.files": "count",
    "io.warehouse_bytes_per_input_byte": "ratio",
    "io.write_json_summary.self_s": "s",
    "io.parquet_rows_read_per_row_returned": "ratio",
    "io.parquet_files_read_per_request": "count",
    "io.table.self_s": "s",
    "operators.cleaning.clean_flight_data.self_s": "s",
    "operators.cleaning.clean_flight_data.jobs": "count",
    "operators.validation.validate_processed_flights.self_s": "s",
    "operators.validation.validate_processed_flights.jobs": "count",
    "operators.self_s": "s",
    "operators.dedup.minhash_candidate_pairs": "count",
    "operators.dedup.candidate_precision": "ratio",
    "operators.similarity.lsh_candidates_per_query": "count",
    "operators.similarity.ivf_candidates_per_query": "count",
    "operators.similarity.knn_recall_at_10": "ratio",
    "functions.python_udf_mb": "MB",
    "queries.self_s": "s",
    "queries.jobs_per_op": "count",
    "queries.airline.self_s": "s",
    "queries.airline.jobs": "count",
    "queries.api.flights_page.self_s": "s",
    "queries.api.metrics_summary.self_s": "s",
    "queries.api.airports_list.self_s": "s",
    "queries.api.jobs_per_request": "count",
    **{f"queries.suite.{q}.s": "s" for q in SUITE_QUERIES},
    "spark.executor_cpu_s": "s",
    "spark.task_count": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.core_utilization": "ratio",
    "spark.task_wait_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.top_span_share": "ratio",
}
# The per-layer metrics of the JSON result: those that both workloads in
# BENCHMARK.json exercise, so none is a constant 0 there. The rest are
# printed in the table above it and written to trace/layers.json.
REPORTED_PER_LAYER = [
    "session.get_spark_s", "session.first_job_s",
    "io.write_parquet.output_mb", "io.write_parquet.files",
    "io.parquet_files_read_per_request",
    "operators.self_s", "queries.self_s", "queries.jobs_per_op",
    "spark.executor_cpu_s", "spark.task_count", "spark.shuffle_write_mb", "spark.gc_s",
    "spark.core_utilization", "spark.task_wait_s",
    "trace.overhead_ratio", "trace.top_span_share",
]
AIRLINE_SPANS = [s for _, _, s in tracing.TARGETS if s.startswith("queries.airline.")]


def spark_jvms() -> list[int]:
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if SPARK_SUBMIT_CLASS in f.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare_environment(work: str, cpus: int) -> None:
    """Everything the session reads at import or launch: core count,
    heap, scratch dirs, and the package on the Python workers' path."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.chdir(work)


def mix_percentile_ms(ops, mix: dict[str, float] | None, q: float) -> float:
    """Sum over operation kinds of the kind's weight × its q-th latency
    percentile. The kinds differ several-fold in cost, so a pooled
    percentile would jump between them as the mix a run reaches shifts."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.dur)
    weights = mix or {k: 1.0 / len(by_kind) for k in by_kind}
    return sum(w * float(np.percentile(by_kind[k], q)) for k, w in weights.items()) * 1000.0


def per_call(spans: list, attr: str = "self_s") -> float:
    return sum(getattr(s, attr) for s in spans) / len(spans) if spans else 0.0


def layer_metrics(tracer, log, ops, wall, cores, extra) -> dict[str, float]:
    spans = list(tracer.spans.values())
    timed = [s for s in spans if s.region == "timed"]
    by_name: dict[str, list] = {}
    for s in timed:
        by_name.setdefault(s.name, []).append(s)
    timed_ids = {s.sid for s in timed}
    jobs = [j for j in log.jobs.values() if j.span in timed_ids]

    # inclusive job counts: a job counts for its span and every ancestor
    incl_jobs: dict[int, int] = {}
    for j in log.jobs.values():
        sid = j.span
        while sid is not None and sid in tracer.spans:
            incl_jobs[sid] = incl_jobs.get(sid, 0) + 1
            sid = tracer.spans[sid].parent

    def jobs_per_call(name: str) -> float:
        ss = by_name.get(name, [])
        return sum(incl_jobs.get(s.sid, 0) for s in ss) / len(ss) if ss else 0.0

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    n_ops = len(ops)
    runs = len(by_name.get("pipeline.run_pipeline", []))
    csv_jobs = [j for j in jobs if tracing.scans_csv(log, j)]
    writes = [s for s in spans if s.name == "io.write_parquet"]
    write_ids = {s.sid for s in writes}
    write_out = sum(
        j.output_b for j in log.jobs.values() if _under(j.span, write_ids, tracer.spans)
    )
    scan_rows = sum(
        v for j in jobs for (acc, name), v in j.accum.items()
        if acc in log.scan_accums and name == "number of output rows"
    )
    timed_execs = {j.execution_id for j in jobs if j.execution_id is not None}
    files_read = sum(
        v for acc, v in log.driver_accum.items()
        if log.scan_accums.get(acc) == "number of files read"
        and log.driver_accum_exec.get(acc) in timed_execs
    )
    udf_bytes = sum(
        v for j in jobs for (_, name), v in j.accum.items()
        if name in ("data sent to Python workers", "data returned from Python workers")
    )
    waits = [
        (j.first_launch_ms - j.submit_ms) / 1000.0 for j in jobs if j.first_launch_ms is not None
    ]
    api_ops = [s for s in timed if s.parent is None and s.name in (
        "op.flights_page", "op.metrics_summary", "op.airports_list")]
    layer_self: dict[str, float] = {}
    for s in timed:
        layer = s.name.split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + s.self_s
    query_ids = {s.sid for s in timed if s.name.startswith("queries.")}
    query_jobs = sum(1 for j in jobs if _under(j.span, query_ids, tracer.spans))
    top_by_thread: dict[int, float] = {}
    for s in timed:
        if s.parent is None:
            top_by_thread[s.thread] = top_by_thread.get(s.thread, 0.0) + s.dur

    m = {
        "pipeline.run_pipeline.self_s": per_call(by_name.get("pipeline.run_pipeline", [])),
        "pipeline.jobs_per_run": jobs_per_call("pipeline.run_pipeline"),
        "io.csv_scan_passes": ratio(len(csv_jobs), runs),
        "io.csv_input_mb": ratio(sum(j.input_b for j in csv_jobs) / 1e6, runs),
        "io.write_parquet.self_s": per_call(by_name.get("io.write_parquet", [])),
        "io.write_parquet.output_mb": ratio(write_out / 1e6, len(writes)),
        "io.write_json_summary.self_s": per_call(by_name.get("io.write_json_summary", [])),
        "io.parquet_rows_read_per_row_returned": ratio(
            scan_rows, sum(op.rows_returned for op in ops)),
        "io.parquet_files_read_per_request": ratio(files_read, n_ops),
        "io.table.self_s": per_call(by_name.get("io.table", [])),
        "operators.self_s": ratio(layer_self.get("operators", 0.0), n_ops),
        "queries.self_s": ratio(layer_self.get("queries", 0.0), n_ops),
        "queries.jobs_per_op": ratio(query_jobs, n_ops),
        "queries.airline.self_s": ratio(
            sum(s.self_s for n in AIRLINE_SPANS for s in by_name.get(n, [])), runs),
        "queries.airline.jobs": ratio(
            sum(incl_jobs.get(s.sid, 0) for n in AIRLINE_SPANS for s in by_name.get(n, [])),
            runs),
        "queries.api.jobs_per_request": ratio(
            sum(incl_jobs.get(s.sid, 0) for s in api_ops), len(api_ops)),
        "functions.python_udf_mb": ratio(udf_bytes / 1e6, n_ops),
        "spark.executor_cpu_s": ratio(sum(j.cpu_ns for j in jobs) / 1e9, n_ops),
        "spark.task_count": ratio(sum(j.tasks for j in jobs), n_ops),
        "spark.shuffle_write_mb": ratio(sum(j.shuffle_write_b for j in jobs) / 1e6, n_ops),
        "spark.spill_mb": ratio(sum(j.spill_b for j in jobs) / 1e6, n_ops),
        "spark.gc_s": ratio(sum(j.gc_ms for j in jobs) / 1000.0, n_ops),
        "spark.core_utilization": ratio(sum(j.run_ms for j in jobs) / 1000.0, cores * wall),
        "spark.task_wait_s": ratio(sum(waits), len(waits)),
        "trace.top_span_share": ratio(max(top_by_thread.values(), default=0.0), wall),
    }
    for name in ("operators.cleaning.clean_flight_data",
                 "operators.validation.validate_processed_flights"):
        m[f"{name}.self_s"] = per_call(by_name.get(name, []))
        m[f"{name}.jobs"] = jobs_per_call(name)
    for ep in ("flights_page", "metrics_summary", "airports_list"):
        m[f"queries.api.{ep}.self_s"] = per_call(by_name.get(f"queries.api.{ep}", []))
    for q in SUITE_QUERIES:
        m[f"queries.suite.{q}.s"] = per_call(by_name.get(f"op.{q}", []), "dur")
    m.update(extra)
    return m


def _under(sid, ids: set, spans: dict) -> bool:
    while sid is not None and sid in spans:
        if sid in ids:
            return True
        sid = spans[sid].parent
    return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    others = spark_jvms()
    if others:
        print(f"perfbench: another Spark JVM is running (pids {others}); refusing to measure",
              file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    prepare_environment(work, cores)
    context = {"nproc": cores, "loadavg_1m": os.getloadavg()[0]}

    wl = WORKLOADS[args.workload](Context(ROOT, work, args.seed))
    wl.prepare()

    tracer = tracing.Tracer() if args.trace else None
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if tracer is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
        tracer.install()
        tracer.enabled = True  # set-up spans count only for write sizes

    from airline_data_pipeline_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    t1 = time.perf_counter()
    try:
        spark.range(1).count()
        t2 = time.perf_counter()
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        if tracer is None:
            r0 = time.perf_counter()
            ops = wl.run(spark, args.seconds, None)
            wall = time.perf_counter() - r0
            ops_all = ops
        else:
            # quarters untraced, traced, traced, untraced: the ratio of
            # mean operation times is the wrappers' overhead, with any
            # drift over the run cancelled by the symmetric order
            plain, ops, wall = [], [], 0.0
            for traced in (False, True, True, False):
                tracer.enabled, tracer.region = traced, "timed"
                r0 = time.perf_counter()
                part = wl.run(spark, args.seconds / 4, tracer)
                if traced:
                    ops += part
                    wall += time.perf_counter() - r0
                else:
                    plain += part
            tracer.enabled = False
            overhead = (sum(o.dur for o in ops) / len(ops)) / (
                sum(o.dur for o in plain) / len(plain))
            ops_all = plain + ops
        failed, reasons = wl.check()
        extra = dict(wl.facts)
        if tracer is not None:
            extra.update(wl.counters(spark))
            import bench

            context["cpu_canary_s"] = bench.cpu_canary_sec(spark)
        from pyspark import SparkContext

        rss = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    finally:
        stop_spark(spark)

    attempted = len(ops_all)
    with open(os.path.join(work, "ops.json"), "w") as f:
        json.dump([vars(o) for o in ops_all], f)
    for r in reasons:
        print(f"perfbench: check failed: {r}", file=sys.stderr)

    if tracer is None:
        values = {
            "setup_s": setup_s,
            "latency_p50_ms": mix_percentile_ms(ops, wl.mix, 50),
            "latency_p90_ms": mix_percentile_ms(ops, wl.mix, 90),
            "throughput_ops_per_s": len(ops) / wall,
            "warehouse_bytes_per_input_byte": extra.get("io.warehouse_bytes_per_input_byte", 0.0),
            "peak_rss_mb": rss,
            "ok_op_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
        context.update({"ops": len(ops), "op": wl.op_noun, "timed_s": wall})
    else:
        log = tracing.read_event_log(os.path.join(work, "eventlog"))
        values = {k: 0.0 for k in PER_LAYER}
        values.update(layer_metrics(tracer, log, ops, wall, cores, extra))
        values["session.get_spark_s"] = t1 - t0
        values["session.first_job_s"] = t2 - t1
        values["trace.overhead_ratio"] = overhead
        units = {k: PER_LAYER[k] for k in REPORTED_PER_LAYER}
        out = os.path.join(work, "trace")
        os.makedirs(out)
        tracer.dump(os.path.join(out, "spans.json"))
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(values, f, indent=1)
        for k in PER_LAYER:
            print(f"{k:60s} {values[k]:14.6g} {PER_LAYER[k]}")
    print("perfbench context: " + json.dumps(context))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
