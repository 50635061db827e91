"""The batch pipeline: one lazy lineage, checkpoints at boundaries.

The reference's DAG (`dags/flight_data_pipeline.py:327-328`) is

    ingest >> process >> load >> [perf_metrics, route_analysis] >> api_metrics

with a CSV file materialized between every stage and Postgres executing
the analytics. Here stages 1-3 are ONE DataFrame lineage (Catalyst sees
scan→project→derive→validate as a single plan: the 9-of-90 projection
reaches the CSV parser, the delay expressions ride the same pass, and
the validation counters are observed during the warehouse write), and
the fan-out stage computes both metric queries in one grouping-sets
aggregate over the warehouse instead of two scans. A run costs about
five Spark jobs: the CSV header read, the write (plus the weather
broadcast), and the aggregate.

Scale design:
- the only materialization is the `flights` parquet checkpoint,
  partitioned by flight_date → every downstream date-range query
  partition-prunes;
- metric outputs are group-by results (driver-sized), written as JSON
  summaries exactly like the reference's artifacts;
- the sorted airport list that `queries.api.airports_list` serves is
  derived from the route aggregate and stored as
  `flights/_airports.json`, so serving it costs no scan;
- a JDBC mirror of the warehouse table is optional (`jdbc_url`),
  replacing the reference's row-tuple insert loop with parallel
  batched writers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from airline_data_pipeline_spark.io.readers import read_flights_csv, read_weather_json
from airline_data_pipeline_spark.io.writers import (
    write_jdbc,
    write_json_summary,
    write_parquet,
)
from airline_data_pipeline_spark.io.schemas import PROCESSED_COLUMN_MAPPING
from airline_data_pipeline_spark.operators.cleaning import (
    clean_flight_data,
    derive_delays,
    project_rename,
)
from airline_data_pipeline_spark.operators.validation import (
    PROCESSED_CHECKS,
    observed,
    validate_processed_flights,
)
from airline_data_pipeline_spark.queries.airline import (
    airline_route_rows,
    performance_summary,
    route_summary,
)
from airline_data_pipeline_spark.queries.api import write_airports_file

REQUIRED_RAW_COLUMNS = [
    "FL_DATE", "OP_CARRIER", "ORIGIN", "DEST", "DEP_TIME", "ARR_TIME",
]  # the reference's raw-file contract (`ingest.py:80-91`)


def run_with_retries(
    fn,
    retries: int = 2,
    retry_delay_s: float = 0.0,
    on_failure=None,
):
    """Retry-policy parity with the reference's orchestration
    (`dags/flight_data_pipeline.py:267-275`: Airflow `retries=2`,
    `retry_delay`): call ``fn()`` up to 1+retries times, sleeping
    ``retry_delay_s`` between attempts. ``on_failure(attempt, exc)``
    fires on every failed attempt (the alerting hook); the final
    exception propagates after retries are exhausted. Spark actions are
    idempotent reads/overwrites here, so a stage re-run is safe."""
    import time

    last: Exception | None = None
    for attempt in range(1 + retries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - retry any stage failure
            last = exc
            if on_failure is not None:
                on_failure(attempt, exc)
            if attempt < retries and retry_delay_s > 0:
                time.sleep(retry_delay_s)
    raise last


@dataclass
class PipelineResult:
    flights_path: str
    metrics: dict = field(default_factory=dict)
    routes: dict = field(default_factory=dict)
    validation_failures: list[str] = field(default_factory=list)
    # Observation-API counters accumulated DURING the warehouse write
    # (no extra job): row count, null-key counts, out-of-set
    # flight_status count, and — when weather enrichment ran — how many
    # flights matched a weather station.
    observations: dict = field(default_factory=dict)


def build_flights(spark: SparkSession, raw_csv_path: str) -> DataFrame:
    """Stages 1-2 as one lazy lineage: scan → contract check → clean →
    project/rename → derive delays + status.

    The reference materializes processed_flights.csv between these
    (`ingest.py:337` → `process.py:157`); fusing them lets Catalyst
    push the 9-column projection into the CSV parse.
    """
    raw = read_flights_csv(spark, raw_csv_path, required_columns=REQUIRED_RAW_COLUMNS)
    # Project before cleaning: only the contract columns reach the
    # output, and none of them depends on a column the projection drops.
    # They are protected from the null-threshold drop (on a
    # cancelled-heavy feed ARR_TIME can exceed the threshold, and
    # dropping it would break the rename contract), so the drop has
    # nothing to profile and runs no job.
    contract = list(PROCESSED_COLUMN_MAPPING)
    cleaned = clean_flight_data(raw.select(*contract), protect=contract)
    processed = project_rename(cleaned)
    return derive_delays(processed)


def run_pipeline(
    spark: SparkSession,
    raw_csv_path: str,
    output_dir: str,
    jdbc_url: str | None = None,
    weather_json_path: str | None = None,
) -> PipelineResult:
    """Full pipeline run (DAG stages 1-6)."""
    flights = build_flights(spark, raw_csv_path)

    # Optional weather enrichment — the join the reference declares but
    # never builds (README To-Do; SURVEY op J1). Weather is tiny →
    # broadcast; flights never shuffle.
    from pyspark.sql import functions as F

    enrichment_metrics: list = []
    if weather_json_path:
        weather = read_weather_json(spark, weather_json_path)
        flights = flights.join(
            F.broadcast(weather),
            flights.origin == weather.station_id,
            "left",
        ).drop("station_id")
        # Enrichment health counter — rides the warehouse write below.
        enrichment_metrics.append(
            F.count(F.when(F.col("temperature").isNotNull(), 1)).alias(
                "weather_matched"
            )
        )

    # Inline validation (U2, Observation API): the processed-flights
    # contract's counters are accumulated DURING the warehouse write's
    # single data pass — no re-scan for validation.
    flights, stage_obs = observed(
        flights, "warehouse_write",
        **PROCESSED_CHECKS,
        extra=enrichment_metrics,
    )

    # Stage-boundary checkpoint: the warehouse table. Partitioned by
    # flight_date so serving-path date filters prune directories.
    flights_path = os.path.join(output_dir, "flights")
    write_parquet(flights, flights_path, partition_by=["flight_date"])
    observations = dict(stage_obs.get)
    # Post-transform validation contract (`process.py:78-123`), from
    # the write's counters: driver-side, no job.
    validation = validate_processed_flights(flights, observations)

    # Read back with the written schema (no inference job; an empty
    # warehouse stays readable): nullable, partition column last, as
    # Spark's own partition discovery orders it.
    fields = [f for f in flights.schema.fields if f.name != "flight_date"]
    fields.append(flights.schema["flight_date"])
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in fields])
    warehouse = spark.read.schema(schema).parquet(flights_path)

    if jdbc_url:
        write_jdbc(warehouse, jdbc_url, "flights")

    # Fan-out: both metric queries from ONE aggregate over the warehouse
    # — the reference scans it twice (`flight_data_pipeline.py:160,206`).
    airline_rows, route_rows = airline_route_rows(warehouse)

    # generated_at stamps match the reference's artifact shape
    # (`dags/flight_data_pipeline.py:169,215,238`, op F12) — driver-side
    # wall clock, deliberately outside any oracle-compared path.
    from datetime import datetime, timezone

    stamp = datetime.now(timezone.utc).isoformat()
    airlines = [r.asDict() for r in airline_rows]
    metrics = {
        "generated_at": stamp,
        **performance_summary(airline_rows),
        "airlines": airlines,
    }
    # The route rows also give the serving path's airport list, which
    # changes only here.
    routes = {"generated_at": stamp, **route_summary(route_rows)}
    airports = {r["origin"] for r in route_rows} | {r["destination"] for r in route_rows}
    # nulls first, as the scan's orderBy sorts them
    write_airports_file(flights_path, sorted(airports, key=lambda a: (a is not None, a)))

    os.makedirs(os.path.join(output_dir, "processed"), exist_ok=True)
    write_json_summary(metrics, os.path.join(output_dir, "processed", "flight_metrics.json"))
    write_json_summary(routes, os.path.join(output_dir, "processed", "route_analysis.json"))

    # api_metrics fan-in (`flight_data_pipeline.py:230-258`): nested
    # summary over the metric outputs, with the Good/Needs-Improvement
    # status conditional (op F11). No flights: a None percentage, which
    # is not "Good" (the reference's pandas NaN > 80 is False).
    overall = metrics["overall_ontime_percentage"]
    api_metrics = {
        "generated_at": stamp,
        "summary": {
            "total_flights": metrics["total_flights"],
            "overall_ontime_percentage": overall,
            "status": "Good" if overall is not None and overall > 80 else "Needs Improvement",
        },
        "top_airlines": airlines[:5],
        "worst_routes": routes["worst_performing_routes"],
    }
    write_json_summary(api_metrics, os.path.join(output_dir, "processed", "api_metrics.json"))

    return PipelineResult(
        flights_path=flights_path,
        metrics=metrics,
        routes=routes,
        validation_failures=validation.failures,
        observations=observations,
    )
