"""The reference's analytical queries, Spark-first (SURVEY.md A6-A9).

Semantics match the Postgres SQL at
`dags/flight_data_pipeline.py:136-158` (per-airline performance) and
`:191-204` (route analysis), and the rollup summaries composed at
`:168-174` / `:214-218`. Each query exists as a DataFrame function;
`*_sql` returns the equivalent Spark SQL text (same Catalyst plan —
both are provided so users can pick either surface).

Plan shape: partial hash-aggregate map-side → single shuffle on the
grouping key → final aggregate. `airline_route_rows` computes A6 and
A7 in ONE grouping-sets pass for the pipeline; the summaries and
rankings run on those collected, driver-sized rows on the driver. `count(when(cond, 1))`
reproduces SQL `COUNT(CASE WHEN ...)` exactly — nulls don't count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from airline_data_pipeline_spark.operators.topk import top_k_rows

AIRLINE_COLUMNS = [
    "airline", "total_flights", "avg_departure_delay", "avg_arrival_delay",
    "delayed_flights", "ontime_flights", "ontime_percentage",
]
ROUTE_COLUMNS = [
    "origin", "destination", "total_flights", "avg_departure_delay",
    "avg_arrival_delay", "delayed_flights", "ontime_percentage",
]
ROUTE_KEYS = ["origin", "destination"]
# grouping_id() over (airline, origin, destination): bit set = column
# aggregated away, first column in the highest bit
_AIRLINE_SET, _ROUTE_SET = 0b011, 0b100


def airline_performance(flights: DataFrame) -> DataFrame:
    """Per-airline performance metrics (op A6, the flagship).

    WITH delay_stats AS (... GROUP BY airline) SELECT ..., ROUND(...,2),
    ROUND(ontime/total*100, 2) ORDER BY total_flights DESC.
    A deterministic `airline` tiebreaker is appended to the sort —
    Postgres ties are physical-order-dependent; ours are stable.
    """
    return (
        flights.groupBy("airline")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.avg("departure_delay").alias("__avg_dep"),
            F.avg("arrival_delay").alias("__avg_arr"),
            F.count(F.when(F.col("flight_status") == "Delayed", 1)).alias(
                "delayed_flights"
            ),
            F.count(F.when(F.col("flight_status") == "On Time", 1)).alias(
                "ontime_flights"
            ),
        )
        .select(
            "airline",
            "total_flights",
            F.round("__avg_dep", 2).alias("avg_departure_delay"),
            F.round("__avg_arr", 2).alias("avg_arrival_delay"),
            "delayed_flights",
            "ontime_flights",
            F.round(
                F.col("ontime_flights") / F.col("total_flights") * 100, 2
            ).alias("ontime_percentage"),
        )
        .orderBy(F.desc("total_flights"), F.asc("airline"))
    )


AIRLINE_PERFORMANCE_SQL = """
WITH delay_stats AS (
    SELECT
        airline,
        COUNT(*) AS total_flights,
        AVG(departure_delay) AS avg_departure_delay,
        AVG(arrival_delay) AS avg_arrival_delay,
        COUNT(CASE WHEN flight_status = 'Delayed' THEN 1 END) AS delayed_flights,
        COUNT(CASE WHEN flight_status = 'On Time' THEN 1 END) AS ontime_flights
    FROM {table}
    GROUP BY airline
)
SELECT
    airline,
    total_flights,
    ROUND(avg_departure_delay, 2) AS avg_departure_delay,
    ROUND(avg_arrival_delay, 2) AS avg_arrival_delay,
    delayed_flights,
    ontime_flights,
    ROUND(ontime_flights / total_flights * 100, 2) AS ontime_percentage
FROM delay_stats
ORDER BY total_flights DESC, airline ASC
"""


def route_analysis(flights: DataFrame) -> DataFrame:
    """Per-route analysis (op A7): two-column grouping key, same
    conditional-count + ratio shape as A6."""
    return (
        flights.groupBy("origin", "destination")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.round(F.avg("departure_delay"), 2).alias("avg_departure_delay"),
            F.round(F.avg("arrival_delay"), 2).alias("avg_arrival_delay"),
            F.count(F.when(F.col("flight_status") == "Delayed", 1)).alias(
                "delayed_flights"
            ),
            F.round(
                F.count(F.when(F.col("flight_status") == "On Time", 1))
                / F.count(F.lit(1))
                * 100,
                2,
            ).alias("ontime_percentage"),
        )
        .orderBy(F.desc("total_flights"), F.asc("origin"), F.asc("destination"))
    )


def airline_route_rows(flights: DataFrame) -> tuple[list, list]:
    """A6 and A7 in ONE aggregate: `groupingSets` over ``airline`` and
    (origin, destination), collected once.

    Returns ``(airline_rows, route_rows)``, each equal to
    `airline_performance(flights).collect()` /
    `route_analysis(flights).collect()`: same columns, rounding and
    order (total_flights desc, then the keys asc with nulls first,
    sorted on the driver).
    """
    delayed = F.count(F.when(F.col("flight_status") == "Delayed", 1))
    ontime = F.count(F.when(F.col("flight_status") == "On Time", 1))
    total = F.count(F.lit(1))
    rows = (
        flights.groupingSets([["airline"], ROUTE_KEYS], "airline", *ROUTE_KEYS)
        .agg(
            F.grouping_id().alias("__set"),
            total.alias("total_flights"),
            F.round(F.avg("departure_delay"), 2).alias("avg_departure_delay"),
            F.round(F.avg("arrival_delay"), 2).alias("avg_arrival_delay"),
            delayed.alias("delayed_flights"),
            ontime.alias("ontime_flights"),
            F.round(ontime / total * 100, 2).alias("ontime_percentage"),
        )
        .collect()
    )

    def shaped(group: int, columns: list[str], keys: list[str]) -> list:
        row = Row(*columns)
        out = [row(*(r[c] for c in columns)) for r in rows if r["__set"] == group]
        return top_k_rows(out, "total_flights", len(out), tiebreakers=keys)

    return (
        shaped(_AIRLINE_SET, AIRLINE_COLUMNS, ["airline"]),
        shaped(_ROUTE_SET, ROUTE_COLUMNS, ROUTE_KEYS),
    )


def performance_summary(rows: list) -> dict:
    """Two-level rollup over A6's output (op A8).

    Reference composes `total_flights.sum()` / overall on-time % from
    the per-airline frame (`dags/flight_data_pipeline.py:168-174`).
    ``rows`` is A6's output, collected: the sums run on the driver, and
    int/int true division gives Spark's double division below 2^53.
    No flights: zero totals and a None percentage.
    """
    total = sum(r["total_flights"] for r in rows)
    ontime = sum(r["ontime_flights"] for r in rows)
    return {
        "total_flights": total,
        "total_delayed_flights": sum(r["delayed_flights"] for r in rows),
        "overall_ontime_percentage": ontime / total * 100 if total else None,
    }


def route_summary(rows: list) -> dict:
    """Route rollup (`dags/flight_data_pipeline.py:214-218`):
    top-10 routes by volume + 5 worst by on-time % (op A9).

    ``rows`` is A7's output, collected: routes are driver-sized, so one
    collect feeds both rankings and the count instead of three actions.
    Ties break on (origin, destination), nulls first, as `top_k` does
    in Spark.
    """
    top_routes = top_k_rows(rows, "total_flights", 10, tiebreakers=ROUTE_KEYS)
    worst = top_k_rows(
        rows, "ontime_percentage", 5, ascending=True, tiebreakers=ROUTE_KEYS
    )
    return {
        "total_routes": len(rows),
        "top_routes": [r.asDict() for r in top_routes],
        "worst_performing_routes": [r.asDict() for r in worst],
    }


def airline_rollup(flights: DataFrame) -> DataFrame:
    """A6 + the A8 grand total in ONE pass via `rollup("airline")` —
    the grouping-sets surface the reference computes in two steps.
    The null-airline row is the grand total (exposed as '__ALL__').
    Percentage uses the engine-portable `round_half_up` (same half-up
    semantics as Postgres ROUND; bit-stable across oracle engines)."""
    from airline_data_pipeline_spark.functions.numeric import round_half_up

    return (
        flights.rollup("airline")
        .agg(
            F.count(F.lit(1)).alias("total_flights"),
            F.count(F.when(F.col("flight_status") == "Delayed", 1)).alias(
                "delayed_flights"
            ),
            round_half_up(
                F.count(F.when(F.col("flight_status") == "On Time", 1))
                .cast("double")
                / F.count(F.lit(1))
                * 100,
                2,
            ).alias("ontime_percentage"),
        )
        .withColumn("airline", F.coalesce(F.col("airline"), F.lit("__ALL__")))
        .orderBy(F.desc("total_flights"), F.asc("airline"))
    )
