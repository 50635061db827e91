"""SparkSession factory.

One place for engine-wide configuration so every entry point (tests,
bench, driver contract, pipeline runner) runs with the same tuning.

Scale notes (local[N] here, 1000-executor cluster in production):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion are the main levers that keep the
  same logical plans efficient from sf0.001 to 100 TB.
- `spark.sql.shuffle.partitions` is only the *initial* number under
  AQE; we set it near core count locally and rely on
  `advisoryPartitionSizeInBytes` to pick real sizes.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
- Arrow enabled: every pandas interchange (createDataFrame, toPandas,
  pandas_udf, applyInPandas/mapInPandas) goes through columnar batches.
- Resource shape comes from the host unless overridden:
  `SPARK_GRAFT_CPUS` (default: the cores this process may run on) and
  `SPARK_GRAFT_DRIVER_MEM` (default: half of physical memory). A heap
  above physical memory lets the local JVM grow until the kernel kills
  it instead of collecting garbage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession



def host_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the
    machine's core count)."""
    return len(os.sched_getaffinity(0))


def driver_mem_from_meminfo(meminfo: str) -> str:
    """Half of `MemTotal` in whole GB (rounded down), at least 1g, from
    the text of /proc/meminfo."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            kb = int(line.split()[1])
            return f"{max(1, kb // 2 // (1024 * 1024))}g"
    raise ValueError("no MemTotal line in meminfo text")


def host_driver_mem() -> str:
    with open("/proc/meminfo") as f:
        return driver_mem_from_meminfo(f.read())


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())


def get_spark(
    app_name: str = "airline_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    In local mode there is a single JVM; on a cluster the same configs
    apply per-executor. Everything here is plan-level tuning — no
    query-specific knobs.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # --- adaptive execution: the scale story -------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        # --- deterministic semantics for oracle parity -------------
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long, readers.table() converts to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-naive parquet timestamps (timestamp[us], tz=None) read as
        # session-TZ TIMESTAMP, not TIMESTAMP_NTZ (Spark 4 flipped the
        # default). Session TZ is pinned UTC below, so the wall clock is
        # preserved and the tz-naive DuckDB oracle agrees. readers.table()
        # also normalizes any NTZ column that slips through on a bare
        # session (see io/readers.py:table).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- python interchange is always Arrow --------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from a daemon and are reused across tasks.
        # Pinned because pyspark 4.1.2 in this environment spawns a
        # fresh interpreter per task without them (~100 ms/task — a 3-4×
        # slowdown on every pandas-UDF stage, measured on applyInPandas;
        # at cluster scale the same per-task fork tax applies to every
        # Python stage).
        .config("spark.python.use.daemon", "true")
        .config("spark.python.worker.reuse", "true")
        # --- local-mode resource shape ------------------------------
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # parquet scans: vectorized reader + pushdown are defaults,
        # pinned here so a config drift can't silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # zstd: ~2x better ratio than snappy at similar scan speed —
        # at 100 TB the scan is IO-bound and ratio wins.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
