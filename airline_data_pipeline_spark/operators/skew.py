"""Skew mitigation helpers (SURVEY.md §4 / scale hardening).

AQE's skew-join splitting handles most cases at runtime
(`spark.sql.adaptive.skewJoin.enabled`, on in session.py). This
helper covers the place AQE can't:

- **skewed aggregation** (`salted_agg`): a groupBy where one key holds
  a large share of rows bottlenecks its single reducer. Two-level
  aggregation over a salted key spreads the hot key across
  `num_salts` reducers, then combines partials. Works for any
  algebraic aggregate (sum/count/min/max — pass the combine form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, num_salts: int = 16, salt_col: str = "__salt") -> DataFrame:
    """Deterministic per-row salt in [0, num_salts) — hash-derived, not
    random, so retries/replays produce identical partitioning."""
    basis = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn(salt_col, F.pmod(basis, F.lit(num_salts)).cast("int"))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[Column, Column]],
    num_salts: int = 16,
) -> DataFrame:
    """Two-level aggregation: groupBy(key, salt) partials → groupBy(key)
    combine.

    ``aggs`` maps output name → (partial_agg_expr, combine_agg_expr),
    e.g. {"n": (F.count(F.lit(1)), F.sum("n")),
          "total": (F.sum("x"), F.sum("total"))}.
    The partial expr runs over raw rows; the combine expr runs over the
    partial rows (referencing the output name). Average = sum+count
    partials combined then divided — not directly algebraic.
    """
    salted = with_salt(df, num_salts)
    partial = salted.groupBy(*group_cols, "__salt").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*group_cols).agg(
        *[combine.alias(name) for name, (_, combine) in aggs.items()]
    )
