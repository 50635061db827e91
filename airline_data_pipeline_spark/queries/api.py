"""The reference's HTTP API query surface as engine functions
(SURVEY.md §3.3; `api/app.py`).

The Flask app re-reads the whole CSV per request (`api/app.py:121`),
filters, paginates with a reset_index cursor, and aggregates. Here the
query surface is a set of functions over a flights DataFrame, usually
the uncached `spark.read.parquet` of the warehouse that `run_pipeline`
writes — the serving layer (HTTP, auth, rate limits) stays out of engine
scope, but every data semantic of the three endpoints is reproduced:

- /api/flights  → `flights_page`   (P4 P5 P6 O1 O2 O5)
- /api/metrics  → `metrics_summary` (A1 A2 A3 A5)
- /api/airports → `airports_list`  (A10)

Each request costs at most one Spark aggregate: a page is one
TakeOrderedAndProject, the metrics one grouping-sets aggregate, and the
airport list none when the warehouse's `_airports.json` is current.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airline_data_pipeline_spark.functions.numeric import round_half_up
from airline_data_pipeline_spark.io.readers import _local_fs_path
from airline_data_pipeline_spark.operators.pagination import encode_cursor, keyset_page
from airline_data_pipeline_spark.operators.topk import top_k_rows

PAGE_KEYS = ["flight_date", "flight_number", "origin"]
ROUTE_KEYS = ["origin", "destination"]
# grouping_id() over (origin, destination, airline): bit set = column
# aggregated away, first column in the highest bit
_TOTALS, _ROUTES, _CARRIERS = 0b111, 0b001, 0b110
AIRPORTS_FILE = "_airports.json"


def apply_flight_filters(
    flights: DataFrame,
    start_date: str | None = None,
    end_date: str | None = None,
    airline: str | None = None,
    origin: str | None = None,
    destination: str | None = None,
) -> DataFrame:
    """The /api/flights filter chain (`api/app.py:137-144`).

    Airport/airline codes are normalized to uppercase before the
    equality predicate, matching the reference's `.upper()` calls.
    Date-range predicates prune partitions when the table is
    date-partitioned (§4).
    """
    out = flights
    if start_date:
        out = out.filter(F.col("flight_date") >= F.lit(start_date))
    if end_date:
        out = out.filter(F.col("flight_date") <= F.lit(end_date))
    if airline:
        out = out.filter(F.col("airline") == airline.upper())
    if origin:
        out = out.filter(F.col("origin") == origin.upper())
    if destination:
        out = out.filter(F.col("destination") == destination.upper())
    return out


def flights_page(
    flights: DataFrame,
    limit: int = 100,
    cursor: str | None = None,
    **filters,
) -> dict:
    """One page of flights + next_cursor (`api/app.py:60-181`).

    Distributed keyset pagination on the natural key
    (flight_date, flight_number, origin) — no global row ids, no
    re-scan-from-zero per page (SURVEY §7.3.5). Returns the reference's
    response shape: {flights, next_cursor, count}.
    """
    filtered = apply_flight_filters(flights, **filters)
    page_df, _key = keyset_page(filtered, PAGE_KEYS, limit=limit, cursor=cursor)
    rows = page_df.collect()
    next_cursor = None
    if len(rows) == min(limit, 1000):
        last = rows[-1]
        next_cursor = encode_cursor(*[last[k] for k in PAGE_KEYS])
    return {
        "flights": [r.asDict() for r in rows],
        "next_cursor": next_cursor,
        "count": len(rows),
    }


def metrics_summary(flights: DataFrame, **filters) -> dict:
    """/api/metrics (`api/app.py:183-289`): totals, rates, top routes,
    top carriers, date range, delay stats.

    ONE grouping-sets aggregate computes the filtered totals, the
    per-route counts and the per-carrier counts in a single pass and
    shuffle (under AQE: a map job plus a result job). The counts are
    driver-sized; the top 5 of each are picked on the driver with
    `grouped_count_top_k`'s order: count descending, then the group
    keys ascending, nulls first. Over an empty input there is no
    grand-total row, and the totals take the values an aggregate over
    no rows gives: 0 flights, null averages and extremes.
    """
    filtered = apply_flight_filters(flights, **filters).withColumn(
        "__delayed",
        F.coalesce(
            (F.col("departure_delay") > 15) | (F.col("arrival_delay") > 15),
            F.lit(False),
        ),
    )
    rows = (
        filtered.groupingSets([[], ROUTE_KEYS, ["airline"]], *ROUTE_KEYS, "airline")
        .agg(
            F.grouping_id().alias("__set"),
            F.count(F.lit(1)).alias("count"),
            round_half_up(F.avg(F.col("__delayed").cast("double")) * 100, 2).alias(
                "delay_rate"
            ),
            round_half_up(F.avg("departure_delay"), 2).alias("avg_departure_delay"),
            round_half_up(F.avg("arrival_delay"), 2).alias("avg_arrival_delay"),
            F.max("departure_delay").alias("max_departure_delay"),
            F.max("arrival_delay").alias("max_arrival_delay"),
            F.min("flight_date").alias("min_date"),
            F.max("flight_date").alias("max_date"),
        )
        .collect()
    )
    g = next((r.asDict() for r in rows if r["__set"] == _TOTALS), {"count": 0})
    routes = top_k_rows(
        [r for r in rows if r["__set"] == _ROUTES], "count", 5, tiebreakers=ROUTE_KEYS
    )
    carriers = top_k_rows(
        [r for r in rows if r["__set"] == _CARRIERS], "count", 5, tiebreakers=["airline"]
    )

    return {
        "total_flights": g["count"],
        "delay_rate": g.get("delay_rate"),
        "avg_departure_delay": g.get("avg_departure_delay"),
        "avg_arrival_delay": g.get("avg_arrival_delay"),
        "max_departure_delay": g.get("max_departure_delay"),
        "max_arrival_delay": g.get("max_arrival_delay"),
        "date_range": {"start": str(g.get("min_date")), "end": str(g.get("max_date"))},
        "top_routes": [
            {"origin": r["origin"], "destination": r["destination"], "count": r["count"]}
            for r in routes
        ],
        "top_carriers": [{"airline": r["airline"], "count": r["count"]} for r in carriers],
    }


def _data_files(root: str) -> list[str]:
    """Paths, relative to ``root``, of the files a Spark read of
    ``root`` lists: names starting with ``_`` or ``.`` are skipped."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [
            os.path.relpath(os.path.join(d, f), root)
            for f in files
            if not f.startswith(("_", "."))
        ]
    return sorted(out)


def write_airports_file(flights_path: str, airports: list) -> None:
    """Store the sorted airport list in ``flights_path/_airports.json``,
    with the committed data files it was computed from (the
    fingerprint). Call it after the parquet commit. The ``_`` prefix
    hides the file from Spark's reader and from ``*/*.parquet`` globs;
    an overwrite of the directory deletes it."""
    doc = {"airports": airports, "files": _data_files(flights_path)}
    tmp = os.path.join(flights_path, f".{AIRPORTS_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, os.path.join(flights_path, AIRPORTS_FILE))


def read_airports_file(flights: DataFrame) -> list | None:
    """The `_airports.json` list, if it answers `airports_list(flights)`.

    That holds when ``flights`` is a bare, uncached parquet scan of one
    local root (its analyzed plan is a single file relation: no filter,
    no projection), the root holds the file, and the file's fingerprint
    equals ``flights.inputFiles()``. Otherwise None: the caller scans.
    No Spark job either way.
    """
    try:
        plan = flights._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        relation = plan.relation()
        if relation.fileFormat().getClass().getSimpleName() != "ParquetFileFormat":
            return None
        roots = relation.location().rootPaths()
        level = flights.storageLevel
        if roots.size() != 1 or level.useMemory or level.useDisk or level.useOffHeap:
            return None
        root = _local_fs_path(roots.head().toString())
    except (AttributeError, Py4JError):  # not a classic file relation
        return None
    if root is None:
        return None
    try:
        with open(os.path.join(root, AIRPORTS_FILE)) as f:
            doc = json.load(f)
        airports, files = doc["airports"], doc["files"]
    except (OSError, ValueError, KeyError, TypeError):
        return None
    scanned = []
    for uri in flights.inputFiles():
        path = _local_fs_path(uri)
        if path is None:
            return None
        scanned.append(os.path.relpath(unquote(path), root))
    return airports if sorted(scanned) == files else None


def airports_list(flights: DataFrame) -> list[str]:
    """/api/airports (`api/app.py:291-332`): distinct origins ∪
    destinations, sorted (op A10).

    Served from the warehouse's `_airports.json` when
    `read_airports_file` finds it current, with no Spark job; otherwise
    the union-distinct scan below.
    """
    stored = read_airports_file(flights)
    if stored is not None:
        return stored
    out = (
        flights.select(F.col("origin").alias("airport"))
        .union(flights.select(F.col("destination").alias("airport")))
        .distinct()
        .orderBy("airport")
    )
    return [r["airport"] for r in out.collect()]
