"""API query-surface tests (SURVEY.md §3.3): pagination completeness
(no row skipped or duplicated across pages — the P6 property test),
filter semantics, metric summary shape, rejected inputs, the airports
file that `run_pipeline` writes, and Spark job counts per request."""

from __future__ import annotations

import base64
import os
import shutil

import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.io.readers import count_parquet_rows
from airline_data_pipeline_spark.operators.topk import grouped_count_top_k
from airline_data_pipeline_spark.pipeline.runner import build_flights, run_pipeline
from airline_data_pipeline_spark.queries.api import (
    AIRPORTS_FILE,
    airports_list,
    apply_flight_filters,
    flights_page,
    metrics_summary,
)
from tests.conftest import spark_jobs

def scan_airports(flights):
    """The union-distinct scan `airports_list` falls back to."""
    out = (
        flights.select(F.col("origin").alias("a"))
        .union(flights.select(F.col("destination").alias("a")))
        .distinct()
        .orderBy("a")
    )
    return [r["a"] for r in out.collect()]


@pytest.fixture(scope="module")
def raw_csv(spark, tmp_path_factory, flights_fixture):
    path = str(tmp_path_factory.mktemp("api_raw") / "csv")
    flights_fixture.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return path


@pytest.fixture(scope="module")
def flights(spark, raw_csv):
    return build_flights(spark, raw_csv).cache()


@pytest.fixture(scope="module")
def warehouse(spark, raw_csv, tmp_path_factory):
    """A flights warehouse written by `run_pipeline` (read-only: tests
    that change it work on a copy)."""
    out = str(tmp_path_factory.mktemp("api_warehouse"))
    return run_pipeline(spark, raw_csv, out).flights_path


@pytest.fixture
def warehouse_copy(warehouse, tmp_path):
    path = str(tmp_path / "flights")
    shutil.copytree(warehouse, path)
    return path


def test_pagination_no_skip_no_dup(flights):
    """Walk every page; the union of pages must equal the full dataset
    exactly (SURVEY §5 property #4)."""
    seen: list[tuple] = []
    cursor = None
    for _ in range(100):  # bound the loop
        page = flights_page(flights, limit=37, cursor=cursor)
        seen.extend(
            (r["flight_date"], r["flight_number"], r["origin"]) for r in page["flights"]
        )
        cursor = page["next_cursor"]
        if cursor is None or page["count"] < 37:
            break
    assert len(seen) == 400
    assert len(set(seen)) == 400  # no duplicates


def test_pagination_is_ordered(flights):
    page = flights_page(flights, limit=50)
    keys = [
        (str(r["flight_date"]), r["flight_number"], r["origin"])
        for r in page["flights"]
    ]
    assert keys == sorted(keys)


def test_filters_normalize_case(flights):
    page = flights_page(flights, limit=1000, origin="jfk")
    assert page["count"] > 0
    assert all(r["origin"] == "JFK" for r in page["flights"])


def test_date_range_filter(flights):
    page = flights_page(
        flights, limit=1000, start_date="2024-01-02", end_date="2024-01-02"
    )
    assert page["count"] == 133  # fixture day-2 rows
    assert all(str(r["flight_date"]) == "2024-01-02" for r in page["flights"])


def test_limit_cap(flights):
    page = flights_page(flights, limit=100_000)
    assert page["count"] <= 1000  # api/app.py:131 cap


def test_metrics_summary_shape(flights):
    m = metrics_summary(flights)
    assert m["total_flights"] == 400
    assert 0 <= m["delay_rate"] <= 100
    assert len(m["top_routes"]) == 5
    assert len(m["top_carriers"]) == 4  # fixture has 4 carriers
    assert m["date_range"]["start"] == "2024-01-01"
    assert m["date_range"]["end"] == "2024-01-03"


def test_airports_union_distinct(flights):
    airports = airports_list(flights)
    assert airports == sorted(set(airports))
    assert set(airports) == {"JFK", "LAX", "ORD", "SFO", "ATL"}


def test_limit_below_one_is_rejected_before_spark(spark, flights):
    for limit in (0, -5):
        with spark_jobs(spark) as jobs, pytest.raises(ValueError, match="limit"):
            flights_page(flights, limit=limit)
        assert jobs == []


@pytest.mark.parametrize(
    "raw",
    [
        b"zzz:1:ABC",  # bad date
        b"2024-01-02:x:ABC",  # bad flight number
        b"2024-01-02:1:",  # empty origin
        None,  # not base64 at all
    ],
)
def test_forged_cursor_is_rejected_before_spark(spark, flights, raw):
    cursor = "%%%-not-a-cursor" if raw is None else base64.urlsafe_b64encode(raw).decode()
    with spark_jobs(spark) as jobs, pytest.raises(ValueError, match="malformed cursor"):
        flights_page(flights, limit=10, cursor=cursor)
    assert jobs == []


def test_empty_filter_results(flights):
    assert metrics_summary(flights, origin="ZZZ") == {
        "total_flights": 0,
        "delay_rate": None,
        "avg_departure_delay": None,
        "avg_arrival_delay": None,
        "max_departure_delay": None,
        "max_arrival_delay": None,
        "date_range": {"start": "None", "end": "None"},
        "top_routes": [],
        "top_carriers": [],
    }
    page = flights_page(flights, origin="ZZZ")
    assert (page["flights"], page["count"], page["next_cursor"]) == ([], 0, None)


@pytest.mark.parametrize(
    "filters",
    [{}, {"airline": "aa"}, {"start_date": "2024-01-02", "origin": "SFO"}],
)
def test_metrics_summary_matches_one_action_per_metric(flights, filters):
    """The one-pass summary equals the totals aggregate plus the two
    `grouped_count_top_k` rankings, each run on its own."""
    filtered = apply_flight_filters(flights, **filters)
    want_routes = grouped_count_top_k(filtered, ["origin", "destination"], 5).collect()
    want_carriers = grouped_count_top_k(filtered, ["airline"], 5).collect()
    got = metrics_summary(flights, **filters)
    assert got["total_flights"] == filtered.count()
    assert got["max_arrival_delay"] == filtered.agg(F.max("arrival_delay")).first()[0]
    assert got["top_routes"] == [r.asDict() for r in want_routes]
    assert got["top_carriers"] == [r.asDict() for r in want_carriers]


def test_airports_file_serves_without_jobs(spark, warehouse):
    assert os.path.exists(os.path.join(warehouse, AIRPORTS_FILE))
    flights = spark.read.parquet(warehouse)
    with spark_jobs(spark) as jobs:
        got = airports_list(flights)
    assert jobs == []
    assert got == scan_airports(flights) == ["ATL", "JFK", "LAX", "ORD", "SFO"]


def test_airports_file_is_invisible_to_readers(spark, warehouse):
    assert spark.read.parquet(warehouse).count() == 400
    assert count_parquet_rows(spark, warehouse) == 400


def _assert_scans(spark, flights):
    with spark_jobs(spark) as jobs:
        got = airports_list(flights)
    assert jobs, "expected the fallback scan"
    assert got == scan_airports(flights)
    return got


def test_airports_fall_back_without_the_file(spark, warehouse_copy):
    os.remove(os.path.join(warehouse_copy, AIRPORTS_FILE))
    _assert_scans(spark, spark.read.parquet(warehouse_copy))


def test_airports_fall_back_on_filtered_or_cached_flights(spark, warehouse):
    flights = spark.read.parquet(warehouse)
    got = _assert_scans(spark, flights.filter(F.col("origin") == "JFK"))
    assert "JFK" in got and len(got) < 5
    cached = spark.read.parquet(warehouse).cache()
    try:
        _assert_scans(spark, cached)
    finally:
        cached.unpersist()


def test_airports_fall_back_on_a_stale_fingerprint(spark, warehouse_copy):
    """A parquet file appended after the pipeline wrote the list makes
    the file stale; the scan sees the new airport."""
    extra = spark.read.parquet(warehouse_copy).limit(1).withColumn("origin", F.lit("ZZZ"))
    extra.write.mode("append").partitionBy("flight_date").parquet(warehouse_copy)
    assert os.path.exists(os.path.join(warehouse_copy, AIRPORTS_FILE))
    assert "ZZZ" in _assert_scans(spark, spark.read.parquet(warehouse_copy))


def test_api_job_count_guard(spark, warehouse):
    """One grouping-sets shuffle for the summary (a map job plus a
    result job under AQE); no job for the airport list."""
    flights = spark.read.parquet(warehouse)
    with spark_jobs(spark) as jobs:
        metrics_summary(flights, start_date="2024-01-02")
    assert 1 <= len(jobs) <= 2
    with spark_jobs(spark) as jobs:
        airports_list(flights)
    assert jobs == []
