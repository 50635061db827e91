"""Reference-parity tests for the airline pipeline (SURVEY.md §5 #2).

Runs the full staged pipeline on a deterministic fixture and asserts
the semantics the reference implements: projection/rename, delay
derivation (naive HHMM), flight_status thresholds, metric shapes, and
the weather enrichment join the reference only declares. Also pins
the pipeline's cost (Spark jobs per run), its validation against the
standalone contract check, the one-pass airline/route aggregate, and
the result for a header-only input.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.operators.validation import validate_processed_flights
from airline_data_pipeline_spark.pipeline.runner import build_flights, run_pipeline
from airline_data_pipeline_spark.queries.airline import (
    airline_performance,
    airline_route_rows,
    performance_summary,
    route_analysis,
)
from airline_data_pipeline_spark.queries.api import AIRPORTS_FILE
from tests.conftest import spark_jobs

RAW_HEADER = (
    "FL_DATE,OP_CARRIER,OP_CARRIER_FL_NUM,ORIGIN,DEST,"
    "CRS_DEP_TIME,DEP_TIME,CRS_ARR_TIME,ARR_TIME\n"
)


@pytest.fixture(scope="module")
def raw_csv(spark, tmp_path_factory, flights_fixture):
    path = str(tmp_path_factory.mktemp("raw") / "flight_data_csv")
    flights_fixture.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return path


@pytest.fixture(scope="module")
def weather_json(tmp_path_factory):
    p = tmp_path_factory.mktemp("weather") / "weather_data.json"
    p.write_text(
        json.dumps(
            {
                "stations": [
                    {"id": "JFK", "temperature": 72, "conditions": "clear"},
                    {"id": "LAX", "temperature": 85, "conditions": "sunny"},
                    {"id": "ZZZ", "temperature": 0, "conditions": "unmatched"},
                ]
            }
        )
    )
    return str(p)


def _dicts(rows: list) -> list[dict]:
    return [r.asDict() for r in rows]


def test_build_flights_schema_and_rename(spark, raw_csv):
    flights = build_flights(spark, raw_csv)
    assert set(flights.columns) == {
        "flight_date", "airline", "flight_number", "origin", "destination",
        "scheduled_departure", "actual_departure", "scheduled_arrival",
        "actual_arrival", "departure_delay", "arrival_delay", "flight_status",
    }


def test_delay_is_naive_hhmm_subtraction(spark, raw_csv):
    """Parity with process.py:163-164: delay = raw HHMM difference."""
    row = (
        build_flights(spark, raw_csv)
        .filter(F.col("actual_departure").isNotNull())
        .select("scheduled_departure", "actual_departure", "departure_delay")
        .first()
    )
    assert row["departure_delay"] == row["actual_departure"] - row["scheduled_departure"]


def test_flight_status_threshold(spark, raw_csv):
    flights = build_flights(spark, raw_csv)
    bad = flights.filter(
        ((F.col("departure_delay") > 15) & (F.col("flight_status") != "Delayed"))
        | (
            (F.col("departure_delay") <= 15) & (F.col("flight_status") != "On Time")
        )
        # null delay (cancelled) → On Time, matching the reference's
        # pandas semantics (NaN > 15 is False → no 'Delayed' assignment)
        | (F.col("departure_delay").isNull() & (F.col("flight_status") != "On Time"))
    )
    assert bad.count() == 0


def test_pipeline_end_to_end(spark, raw_csv, weather_json, tmp_path):
    out = str(tmp_path / "warehouse")
    result = run_pipeline(spark, raw_csv, out, weather_json_path=weather_json)

    assert result.validation_failures == []
    warehouse = spark.read.parquet(result.flights_path)
    assert warehouse.count() == 400
    # weather enrichment: JFK/LAX rows carry temperature, others null
    assert warehouse.filter(
        (F.col("origin") == "JFK") & F.col("temperature").isNull()
    ).count() == 0
    assert warehouse.filter(F.col("origin") == "ORD").filter(
        F.col("temperature").isNotNull()
    ).count() == 0

    # metric shape parity (flight_metrics.json structure,
    # dags/flight_data_pipeline.py:168-174)
    m = result.metrics
    assert m["total_flights"] == 400
    assert set(m["airlines"][0]) == {
        "airline", "total_flights", "avg_departure_delay", "avg_arrival_delay",
        "delayed_flights", "ontime_flights", "ontime_percentage",
    }
    # per-airline counts sum to total; rates within [0, 100]
    assert sum(a["total_flights"] for a in m["airlines"]) == 400
    for a in m["airlines"]:
        assert 0 <= a["ontime_percentage"] <= 100
        assert a["delayed_flights"] + a["ontime_flights"] == a["total_flights"]

    # artifacts exist (reference's outputs: flight_metrics.json etc.)
    for name in ("flight_metrics.json", "route_analysis.json", "api_metrics.json"):
        assert os.path.exists(os.path.join(out, "processed", name))

    # uppercase normalization applied (fixture has 'wn', 'sfo')
    assert warehouse.filter(F.col("airline") == "wn").count() == 0
    assert warehouse.filter(F.col("airline") == "WN").count() > 0

    # Observation-API stage telemetry rode the warehouse write (no
    # extra job): row count, key-null counters, weather-match counter
    obs = result.observations
    assert obs["n_rows"] == 400
    assert obs["null_airline"] == 0 and obs["null_origin"] == 0
    assert obs["weather_matched"] == warehouse.filter(
        F.col("temperature").isNotNull()
    ).count()
    assert 0 < obs["weather_matched"] < 400  # fixture: some match, not all


def test_partition_pruning_layout(spark, raw_csv, tmp_path):
    """The warehouse is flight_date-partitioned: a date filter must
    read only that partition's directory (P4 partition-prunability)."""
    out = str(tmp_path / "wh2")
    result = run_pipeline(spark, raw_csv, out)
    subdirs = [d for d in os.listdir(result.flights_path) if d.startswith("flight_date=")]
    assert len(subdirs) == 3  # fixture has 3 distinct dates
    one_day = spark.read.parquet(result.flights_path).filter(
        F.col("flight_date") == "2024-01-01"
    )
    # partition filter yields exactly the fixture's day-1 rows
    assert one_day.count() == 134


def test_pipeline_job_count(spark, raw_csv, weather_json, tmp_path):
    """A run is the CSV header read, the weather broadcast + warehouse
    write, and one airline/route aggregate. A re-scan for validation or
    a second metric query over the warehouse would exceed the bound."""
    run_pipeline(spark, raw_csv, str(tmp_path / "warm"), weather_json_path=weather_json)
    with spark_jobs(spark) as jobs:
        run_pipeline(spark, raw_csv, str(tmp_path / "wh"), weather_json_path=weather_json)
    assert len(jobs) <= 6


def test_write_validation_matches_standalone_contract(spark, tmp_path):
    """The counters observed during the write give the failures that the
    standalone one-job contract check gives over the written warehouse."""
    csv = tmp_path / "one_blank_origin.csv"
    csv.write_text(
        RAW_HEADER
        + "1/1/2024 12:00:00 AM,AA,1,JFK,LAX,900,905,1200,1210\n"
        + "1/1/2024 12:00:00 AM,AA,2,,LAX,900,930,1200,1240\n"
        + "1/2/2024 12:00:00 AM,DL,3,ORD,JFK,700,702,1000,1001\n"
    )
    result = run_pipeline(spark, str(csv), str(tmp_path / "out"))
    assert result.validation_failures == ["origin: 1 null values"]
    standalone = validate_processed_flights(spark.read.parquet(result.flights_path))
    assert standalone.failures == result.validation_failures


def test_header_only_csv(spark, tmp_path):
    """No rows: an empty warehouse, zeroed summaries, one failure."""
    csv = tmp_path / "header_only.csv"
    csv.write_text(RAW_HEADER)
    out = tmp_path / "out"
    result = run_pipeline(spark, str(csv), str(out))

    assert result.validation_failures == ["dataframe is empty"]
    assert result.observations["n_rows"] == 0
    assert result.metrics["total_flights"] == 0
    assert result.metrics["total_delayed_flights"] == 0
    assert result.metrics["overall_ontime_percentage"] is None
    assert result.metrics["airlines"] == []
    assert result.routes["total_routes"] == 0
    assert result.routes["top_routes"] == []
    assert result.routes["worst_performing_routes"] == []
    api = json.loads((out / "processed" / "api_metrics.json").read_text())
    # the reference's pandas NaN > 80 is False
    assert api["summary"]["status"] == "Needs Improvement"
    airports = json.loads(open(os.path.join(result.flights_path, AIRPORTS_FILE)).read())
    assert airports["airports"] == []


def test_airline_route_rows_match_dataframe_queries(spark):
    """The one grouping-sets pass equals both DataFrame queries: same
    rows, values and order, with tied totals and null keys."""
    rows = [
        ("AA", "JFK", "LAX", 10.0, 20.0, "Delayed"),
        ("AA", "JFK", "LAX", 3.0, -4.0, "On Time"),
        ("DL", "JFK", "LAX", 1.0, 1.0, "On Time"),
        ("DL", None, "ORD", 33.0, 7.0, "Delayed"),
        (None, None, "ORD", 2.0, None, "On Time"),
        (None, "ATL", None, None, 5.0, "On Time"),
        ("UA", "ATL", "JFK", 17.0, 16.0, "Delayed"),
        ("UA", "ATL", "JFK", 1.0, 2.0, "On Time"),
        ("UA", "ORD", "JFK", 0.0, 0.0, "On Time"),
    ]
    df = spark.createDataFrame(
        rows,
        "airline string, origin string, destination string, "
        "departure_delay double, arrival_delay double, flight_status string",
    )
    airline_rows, route_rows = airline_route_rows(df)
    assert _dicts(airline_rows) == _dicts(airline_performance(df).collect())
    assert _dicts(route_rows) == _dicts(route_analysis(df).collect())

    spark_summary = airline_performance(df).agg(
        F.sum("total_flights").alias("total_flights"),
        F.sum("delayed_flights").alias("total_delayed_flights"),
        (F.sum("ontime_flights") / F.sum("total_flights") * 100).alias(
            "overall_ontime_percentage"
        ),
    ).first()
    assert performance_summary(airline_rows) == spark_summary.asDict()
