"""Shared test fixtures: one SparkSession per test run, testdata paths,
and a synthetic airline-domain fixture (FIXTURES.md §B) for
reference-parity tests."""

from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, "/root/repo")

from airline_data_pipeline_spark.session import get_spark

# Resolved from env so a re-scaled/moved testdata tree is a one-line
# override, not a sweep of hardcoded-path test failures.
SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


def require_sf(path: str) -> str:
    """Skip the calling test when a testdata dir is absent (environment
    drift), rather than failing tests unrelated to the code under test."""
    if not os.path.isdir(path):
        pytest.skip(f"testdata dir missing: {path}")
    return path


_job_groups = itertools.count()


@contextmanager
def spark_jobs(spark):
    """Collects the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"test-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session", autouse=True)
def _testdata_encoding_guard():
    """Fail the run loudly (before any query-level red) if the driver
    re-encoded testdata timestamps outside readers.table()'s contract."""
    from airline_data_pipeline_spark.io.selfcheck import check_testdata_encodings

    for d in {SF_SMOKE, SF_ORACLE}:
        if os.path.isdir(d):
            check_testdata_encodings(d)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def flights_fixture(spark):
    """Deterministic airline-domain fixture (FIXTURES.md §B1 guidance):
    duplicate routes, null actual times, hour-boundary HHMM pairs, a
    mostly-null column for the P3 drop, mixed-case codes."""
    rows = []
    carriers = ["AA", "DL", "UA", "wn"]
    airports = ["JFK", "LAX", "ORD", "sfo", "ATL"]
    for i in range(400):
        carrier = carriers[i % 4]
        origin = airports[i % 5]
        dest = airports[(i + 2) % 5]
        day = (i % 3) + 1
        sched_dep = 600 + (i % 18) * 100 + (i * 7) % 60  # HHMM, crosses hours
        cancelled = 1.0 if i % 40 == 0 else 0.0
        if cancelled:
            dep, arr = None, None
        else:
            # 1 in 5 delayed ≥ 16 HHMM units; some cross the hour boundary
            dep = float(sched_dep + (45 if i % 5 == 0 else 3))
            arr = float((sched_dep + 200) % 2400 + (55 if i % 7 == 0 else 5))
        rows.append(
            (
                f"1/{day}/2024 12:00:00 AM",
                carrier,
                1000 + i,
                origin,
                dest,
                sched_dep,
                dep,
                (sched_dep + 200) % 2400,
                arr,
                cancelled,
                None if i % 20 else "A",  # 95% null → must be dropped by P3
                0.0,
            )
        )
    return spark.createDataFrame(
        rows,
        schema=(
            "FL_DATE string, OP_CARRIER string, OP_CARRIER_FL_NUM long, "
            "ORIGIN string, DEST string, CRS_DEP_TIME long, DEP_TIME double, "
            "CRS_ARR_TIME long, ARR_TIME double, CANCELLED double, "
            "CANCELLATION_CODE string, DIVERTED double"
        ),
    )
