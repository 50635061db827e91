"""Top-k / bottom-k operators (SURVEY.md A3, A4, A9, W2).

Global top-k compiles to `TakeOrderedAndProject` (per-partition heap +
driver merge — no global sort, no full shuffle of the data, only of k
rows per partition). Per-group top-k is a rank window. Both take
explicit tiebreaker columns because `nlargest`-style tie behavior is
insertion-order dependent and oracle tests need determinism
(SURVEY §7.3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k(
    df: DataFrame,
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Global top-k with deterministic ties (ops A3/A4/A9, O2/O4).

    Reference shapes: `groupby(...).size().nlargest(5)` (`process.py:134`),
    `value_counts().nlargest(5)` (`process.py:135`),
    `nsmallest(5, 'ontime_percentage')` (`dags/flight_data_pipeline.py:216`).
    """
    primary = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [primary] + [F.col(c).asc() for c in (tiebreakers or [])]
    return df.orderBy(*order).limit(k)


def top_k_rows(
    rows: list,
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreakers: list[str] | None = None,
) -> list:
    """`top_k` over rows already on the driver, in Spark's order:
    ascending sorts put nulls first, descending ones put them last.

    For driver-sized results that are collected anyway (per-route
    aggregates, grouping-set counts): a driver sort costs no job.
    """

    def nulls_first(c: str):
        return lambda r: (r[c] is not None, r[c])

    out = list(rows)
    for c in reversed(tiebreakers or []):
        out.sort(key=nulls_first(c))
    # stable: equal primaries keep the tiebreaker order; reverse=True
    # turns nulls-first ascending into Spark's nulls-last descending
    out.sort(key=nulls_first(order_col), reverse=not ascending)
    return out[:k]


def grouped_count_top_k(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    count_alias: str = "count",
) -> DataFrame:
    """groupBy(...).count() → deterministic top-k (op A3/A4).

    Group keys double as tiebreakers, so ties are stable across runs,
    partitionings, and engines.
    """
    counted = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(count_alias))
    return top_k(counted, count_alias, k, ascending=False, tiebreakers=group_cols)


def top_k_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreakers: list[str] | None = None,
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k within each group via a rank window (op W2).

    One shuffle on the partition key; rows never leave their partition
    after that — this scales to any number of groups.
    """
    primary = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [primary] + [F.col(c).asc() for c in (tiebreakers or [])]
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)
