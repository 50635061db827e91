"""Cleaning operators (SURVEY.md ops P1, P3, P8, F7; `clean_flight_data`).

The reference's cleaning stage (`data_processing/process.py:15-75`)
does: drop >70%-null columns, parse dates, reformat clock times, fill
cancellation/delay nulls with 0, uppercase codes, derive IS_DELAYED.
Re-expressed here as lazy column expressions plus one engine-level
two-pass op for the data-dependent column drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airline_data_pipeline_spark.functions.timefmt import (
    hhmm_delay_naive,
    hhmm_to_display,
)
from airline_data_pipeline_spark.io.schemas import PROCESSED_COLUMN_MAPPING


def null_fractions(df: DataFrame, columns: list[str] | None = None) -> dict[str, float]:
    """Per-column null fraction in one aggregate pass (op A11).

    Reference computes `df.isnull().sum() / len(df) * 100` eagerly
    (`process.py:24-27`); here it is a single job over all columns —
    `avg(isNull)` does the count and the divide in one shuffle-free
    partial+final aggregate. At 100 TB, prefer running this on a
    sampled fraction or on Parquet footer null-counts; exactness only
    matters near the threshold. ``columns=None`` profiles every
    column; an empty list profiles none and runs no job.
    """
    cols = df.columns if columns is None else columns
    if not cols:
        return {}
    row = df.select(
        [F.avg(F.col(c).isNull().cast("double")).alias(c) for c in cols]
    ).first()
    return {c: (row[c] if row[c] is not None else 0.0) for c in cols}


def drop_mostly_null(
    df: DataFrame, threshold: float = 0.7, protect: list[str] | None = None
) -> DataFrame:
    """Drop columns whose null fraction exceeds ``threshold`` (op P3).

    Reference: `process.py:29-34`. The output *schema depends on the
    data*, which no single Catalyst plan can express — so this is a
    two-job engine op: profile aggregate, then a plain `select` of the
    survivors (which Catalyst then prunes at the scan).

    ``protect`` columns survive regardless of null fraction — used for
    downstream contract columns (a cancelled-heavy day must not drop
    ARR_TIME and break the projection). With nothing left to drop, ``df``
    comes back unchanged and no job runs.
    """
    protected = set(protect or [])
    droppable = [c for c in df.columns if c not in protected]
    if not droppable:
        return df
    fractions = null_fractions(df, droppable)
    kept = [c for c in df.columns if c in protected or fractions[c] <= threshold]
    return df.select(*kept)


def project_rename(df: DataFrame, mapping: dict[str, str] | None = None) -> DataFrame:
    """Select + rename via mapping (op P1).

    Reference: `df[required_columns].rename(columns=column_mapping)`
    (`ingest.py:314-333`). A single `select` of aliases — Catalyst
    pushes the 9-of-90 projection into the scan.
    """
    m = mapping or PROCESSED_COLUMN_MAPPING
    return df.select([F.col(src).alias(dst) for src, dst in m.items()])


def clean_flight_data(
    df: DataFrame,
    null_threshold: float = 0.7,
    date_col: str = "FL_DATE",
    date_fmt: str = "M/d/yyyy hh:mm:ss a",
    protect: list[str] | None = None,
) -> DataFrame:
    """Full parity with `clean_flight_data` (`process.py:15-75`).

    1. drop >threshold-null columns          (P3, two-pass)
    2. FL_DATE string → date                 (F3)
    3. DEP_TIME/ARR_TIME → 'HH:MM' display   (F2, expressions not UDF)
    4. fillna(0) on CANCELLED/DIVERTED/delay (F7)
    5. uppercase carrier/airport codes       (F1)
    6. IS_DELAYED = dep>15 | arr>15          (F8)

    NaN-vs-null semantics (SURVEY §7.3.2): the reference's pandas
    comparison yields False for NaN, Spark yields null — derived
    booleans are coalesced to False to match.
    """
    out = drop_mostly_null(df, null_threshold, protect=protect)
    cols = set(out.columns)

    if date_col in cols:
        out = out.withColumn(date_col, F.to_date(F.col(date_col), date_fmt))
    for c in ("DEP_TIME", "ARR_TIME"):
        if c in cols:
            out = out.withColumn(f"{c}_DISPLAY", hhmm_to_display(F.col(c)))
    fill_zero = [
        c
        for c in ("CANCELLED", "DIVERTED", "DEP_DELAY", "ARR_DELAY",
                  "CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY",
                  "SECURITY_DELAY", "LATE_AIRCRAFT_DELAY")
        if c in cols
    ]
    if fill_zero:
        out = out.fillna(0, subset=fill_zero)
    for c in ("OP_CARRIER", "ORIGIN", "DEST"):
        if c in cols:
            out = out.withColumn(c, F.upper(F.col(c)))
    if {"DEP_DELAY", "ARR_DELAY"} <= cols:
        out = out.withColumn(
            "IS_DELAYED",
            F.coalesce(
                (F.col("DEP_DELAY") > 15) | (F.col("ARR_DELAY") > 15),
                F.lit(False),
            ),
        )
    return out


def derive_delays(df: DataFrame, delay_threshold: int = 15) -> DataFrame:
    """processed_flights → final_flights (`process.py:140-178`).

    departure_delay / arrival_delay via the reference's naive HHMM
    subtraction (parity — see functions/timefmt.py for the corrected
    variant) and flight_status via a predicate-scoped conditional
    (op P8: `df.loc[cond, col] = ...` becomes `when/otherwise`).
    """
    return (
        df.withColumn(
            "departure_delay",
            hhmm_delay_naive(F.col("actual_departure"), F.col("scheduled_departure")),
        )
        .withColumn(
            "arrival_delay",
            hhmm_delay_naive(F.col("actual_arrival"), F.col("scheduled_arrival")),
        )
        .withColumn(
            "flight_status",
            F.when(F.col("departure_delay") > delay_threshold, "Delayed").otherwise(
                "On Time"
            ),
        )
    )
