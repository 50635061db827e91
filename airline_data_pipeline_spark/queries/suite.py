"""The oracle-checked query suite.

Every operator family from SURVEY.md §2 appears here as a named query
over the driver's testdata tables, paired with ANSI SQL that DuckDB
executes on the same parquet — the driver's correctness gate runs both
and compares row count + schema + order-insensitive value hash.

Conventions that keep the hash comparison stable:
- every computed column is aliased identically in Spark and SQL;
- every float aggregate is rounded with the engine-portable
  floor-based `round_half_up` and its SQL twin `sql_round` (Spark's
  ROUND and DuckDB's ROUND disagree on decimal-half-boundary doubles —
  see functions/numeric.py);
- every top-k has explicit tiebreakers (SURVEY §7.3.3);
- timestamps used as dates are cast to date on both sides.

Each entry is a QueryDef: `fn(spark, sf_dir) -> DataFrame` built on the
engine's operators, plus `oracle` SQL (None → driver does a weaker
rows-only check — used for ops whose semantics aren't SQL-expressible).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airline_data_pipeline_spark.functions import text as TX
from airline_data_pipeline_spark.functions.numeric import round_half_up, sql_round
from airline_data_pipeline_spark.functions.timefmt import hhmm_to_display
from airline_data_pipeline_spark.io.localrel import local_df
from airline_data_pipeline_spark.io.readers import fan_out, read_meta_first, table
from airline_data_pipeline_spark.operators import (
    corpus,
    dedup,
    repetition,
    similarity,
    sketches,
)
from airline_data_pipeline_spark.operators.asof import asof_join
from airline_data_pipeline_spark.operators.merge import upsert_latest
from airline_data_pipeline_spark.operators.cleaning import null_fractions
from airline_data_pipeline_spark.operators.pagination import keyset_predicate
from airline_data_pipeline_spark.operators.topk import (
    grouped_count_top_k,
    top_k,
    top_k_per_group,
)


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: list[QueryDef] = []


def _q(name: str, oracle: str | None, doc: str = ""):
    def wrap(fn):
        REGISTRY.append(QueryDef(name, fn, oracle, doc))
        return fn

    return wrap


def _localized(
    spark: SparkSession,
    df: DataFrame,
    drop_view: str | None = None,
    scratch_dirs: tuple[str, ...] = (),
) -> DataFrame:
    """Materialize a driver-sized result, then release its scratch state.

    The round-trip and streaming queries stage data through mkdtemp dirs
    and memory-sink tables; returning a lazy plan over those would leak
    one copy per harness invocation (the driver and bench call each
    query repeatedly). Every caller's result is bounded (aggregates, or
    key-capped round-trips), so localizing it is driver-safe — the
    driver collects it anyway.

    GUARD (VERDICT r10 #6): collect-by-contract is the one pattern here
    a future query could misuse by handing in an unbounded data-sized
    frame — a silent driver OOM at scale. The collect goes through
    limit(cap+1) so misuse fails loudly at cap+1 rows instead of
    materializing the whole frame; cap is ~10x the largest current
    caller (streaming/roundtrip results are 10s-1000s of rows).
    """
    import shutil

    _LOCALIZE_CAP = 200_000
    try:
        rows = df.limit(_LOCALIZE_CAP + 1).collect()
    finally:
        # scratch hygiene must survive the guard and collect failures
        # (review r11): raising BEFORE the cleanup would leak one
        # mkdtemp dir / temp view per harness retry — the exact
        # per-invocation leak this helper exists to prevent.
        if drop_view is not None:
            spark.catalog.dropTempView(drop_view)
        for d in scratch_dirs:
            shutil.rmtree(d, ignore_errors=True)
    if len(rows) > _LOCALIZE_CAP:
        raise ValueError(
            f"_localized is for driver-sized results only; input exceeded "
            f"the {_LOCALIZE_CAP}-row cap — aggregate or key-cap the "
            f"query before localizing it"
        )
    # one explicit slice, not createDataFrame(rows) (which parallelizes
    # into defaultParallelism Python-evaluated slices — 32 worker
    # round-trips to rescan a driver-sized result; A/B 0.27 → 0.17 s
    # per collect). The pandas/Arrow local_df path is deliberately NOT
    # used here: these are pre-collected Rows with timestamps/arrays/
    # binary whose pickle round-trip is type-exact by construction.
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=df.schema
    )


# ===========================================================================
# §2.2 projections / filters / predicates
# ===========================================================================
@_q(
    "proj_rename",
    """
    SELECT l_orderkey AS order_id, l_partkey AS part_id,
           l_quantity AS qty, l_extendedprice AS price
    FROM lineitem
    """,
    "P1: projection + rename — 4 of 11 columns, pruned at the scan",
)
def q_proj_rename(spark, sf_dir):
    return table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
    )


@_q(
    "filter_range_eq",
    """
    SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
           l_quantity
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      AND l_returnflag = 'R'
    """,
    "P4+P5: date-range + normalized equality predicates (pushed to the scan)",
)
def q_filter_range_eq(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("ship_date", F.col("l_shipdate").cast("date"))
        .filter(
            F.col("ship_date").between(F.lit("1995-01-01"), F.lit("1995-12-31"))
            & (F.col("l_returnflag") == F.upper(F.lit("r")))
        )
        .select("l_orderkey", "l_linenumber", "ship_date", "l_quantity")
    )


@_q(
    "conditional_status",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'High'
                WHEN o_totalprice > 150000 THEN 'Medium'
                ELSE 'Low' END AS price_band,
           CASE WHEN o_orderstatus = 'F' AND o_totalprice > 200000
                THEN TRUE ELSE FALSE END AS big_filled
    FROM orders
    """,
    "P8+F8: predicate-scoped conditional column + boolean-of-comparisons "
    "(the flight_status / IS_DELAYED pattern, process.py:67,167-168)",
)
def q_conditional_status(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "High")
        .when(F.col("o_totalprice") > 150000, "Medium")
        .otherwise("Low")
        .alias("price_band"),
        F.coalesce(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000),
            F.lit(False),
        ).alias("big_filled"),
    )


@_q(
    "cast_fill_round",
    f"""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INTEGER) AS qty_int,
           {sql_round('l_extendedprice * (1 - l_discount)', 2)} AS net_price,
           COALESCE(l_tax, 0.0) AS tax_filled
    FROM lineitem
    WHERE l_linenumber <= 2
    """,
    "F4+F6+F7: casts, arithmetic, portable rounding, null-fill",
)
def q_cast_fill_round(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        round_half_up(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "net_price"
        ),
        F.coalesce(F.col("l_tax"), F.lit(0.0)).alias("tax_filled"),
    )


@_q(
    "hhmm_display",
    """
    SELECT event_id,
           CAST(EXTRACT(hour FROM ts) * 100 + EXTRACT(minute FROM ts) AS BIGINT) AS hhmm,
           CONCAT(
             SUBSTRING(LPAD(CAST(CAST(EXTRACT(hour FROM ts) * 100 + EXTRACT(minute FROM ts) AS INTEGER) AS VARCHAR), 4, '0'), 1, 2),
             ':',
             SUBSTRING(LPAD(CAST(CAST(EXTRACT(hour FROM ts) * 100 + EXTRACT(minute FROM ts) AS INTEGER) AS VARCHAR), 4, '0'), 3, 2)
           ) AS clock_display
    FROM events WHERE event_id < 500
    """,
    "F2+F9: HHMM-encoded clock → 'HH:MM' display, as pure expressions "
    "(replaces the reference's per-value Python apply, process.py:40-47)",
)
def q_hhmm_display(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    hhmm = (F.hour("ts") * 100 + F.minute("ts")).cast("long")
    return ev.select(
        "event_id",
        hhmm.alias("hhmm"),
        hhmm_to_display(hhmm).alias("clock_display"),
    )


@_q(
    "keyset_page",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice
    FROM orders
    WHERE CAST(o_orderdate AS DATE) > DATE '1996-06-15'
       OR (CAST(o_orderdate AS DATE) = DATE '1996-06-15' AND o_orderkey > 2000)
    ORDER BY order_date, o_orderkey
    LIMIT 100
    """,
    "P6+O1+O2+W1: keyset pagination — lexicographic cursor predicate, "
    "stable order, page limit (api/app.py:147-159 distributed analog)",
)
def q_keyset_page(spark, sf_dir):
    o = table(spark, sf_dir, "orders").withColumn(
        "order_date", F.col("o_orderdate").cast("date")
    )
    pred = keyset_predicate(["order_date", "o_orderkey"], ["1996-06-15", 2000])
    return (
        o.filter(pred)
        .select("o_orderkey", "order_date", "o_totalprice")
        .orderBy("order_date", "o_orderkey")
        .limit(100)
    )


@_q(
    "null_profile",
    f"""
    SELECT
      {sql_round('AVG(CASE WHEN l_orderkey IS NULL THEN 1.0 ELSE 0.0 END)', 6)} AS l_orderkey,
      {sql_round('AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END)', 6)} AS l_quantity,
      {sql_round('AVG(CASE WHEN l_returnflag IS NULL THEN 1.0 ELSE 0.0 END)', 6)} AS l_returnflag,
      {sql_round('AVG(CASE WHEN l_shipdate IS NULL THEN 1.0 ELSE 0.0 END)', 6)} AS l_shipdate
    FROM lineitem
    """,
    "A11+P7: per-column null-fraction profile in one aggregate pass "
    "(process.py:24-27; feeds the P3 drop_mostly_null engine op)",
)
def q_null_profile(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    return li.select(
        [
            round_half_up(F.avg(F.col(c).isNull().cast("double")), 6).alias(c)
            for c in cols
        ]
    )


# ===========================================================================
# §2.4 aggregations
# ===========================================================================
@_q(
    "global_stats",
    f"""
    SELECT COUNT(*) AS total_rows,
           {sql_round('AVG(l_quantity)', 4)} AS avg_qty,
           MIN(CAST(l_shipdate AS DATE)) AS min_ship,
           MAX(CAST(l_shipdate AS DATE)) AS max_ship,
           {sql_round("AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 100", 4)} AS return_rate
    FROM lineitem
    """,
    "A1+A2+A5: global count / mean / min / max / boolean-rate in one pass "
    "(process.py:130-133, api/app.py:263-284)",
)
def q_global_stats(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        round_half_up(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.min(F.col("l_shipdate").cast("date")).alias("min_ship"),
        F.max(F.col("l_shipdate").cast("date")).alias("max_ship"),
        round_half_up(
            F.avg((F.col("l_returnflag") == "R").cast("double")) * 100, 4
        ).alias("return_rate"),
    )


@_q(
    "group_count_topk",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS count
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY count DESC, l_returnflag, l_linestatus
    LIMIT 5
    """,
    "A3: group-by count + deterministic top-k (top-5 routes, process.py:134)",
)
def q_group_count_topk(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return grouped_count_top_k(li, ["l_returnflag", "l_linestatus"], 5)


@_q(
    "value_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS count
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY count DESC, o_orderpriority
    """,
    "A4: value_counts with stable ordering (top carriers, process.py:135)",
)
def q_value_counts(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("o_orderpriority"))
    )


@_q(
    "perf_metrics",
    f"""
    WITH delay_stats AS (
        SELECT o_orderpriority AS priority,
               COUNT(*) AS total_orders,
               AVG(o_totalprice) AS avg_price_raw,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS filled_orders,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT priority, total_orders,
           {sql_round('avg_price_raw', 2)} AS avg_price,
           filled_orders, open_orders,
           {sql_round('CAST(filled_orders AS DOUBLE) / total_orders * 100', 2)} AS filled_percentage
    FROM delay_stats
    ORDER BY total_orders DESC, priority
    """,
    "A6 FLAGSHIP: the per-airline performance query shape "
    "(dags/flight_data_pipeline.py:136-158) — CTE, grouped agg, "
    "conditional counts, computed ratio, round, order",
)
def q_perf_metrics(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.avg("o_totalprice").alias("__avg_price"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("filled_orders"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("open_orders"),
        )
        .select(
            "priority",
            "total_orders",
            round_half_up(F.col("__avg_price"), 2).alias("avg_price"),
            "filled_orders",
            "open_orders",
            round_half_up(
                F.col("filled_orders").cast("double") / F.col("total_orders") * 100, 2
            ).alias("filled_percentage"),
        )
        .orderBy(F.desc("total_orders"), F.asc("priority"))
    )


@_q(
    "route_metrics",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS total_items,
           {sql_round('AVG(l_quantity)', 2)} AS avg_qty,
           {sql_round('AVG(l_discount)', 4)} AS avg_discount,
           COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS bulk_items,
           {sql_round('CAST(COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS DOUBLE) / COUNT(*) * 100', 2)} AS bulk_percentage
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY total_items DESC, l_returnflag, l_linestatus
    """,
    "A7: route-analysis shape (dags/flight_data_pipeline.py:191-204) — "
    "2-column grouping key + conditional count + percentage",
)
def q_route_metrics(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    bulk = F.count(F.when(F.col("l_quantity") > 25, 1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("total_items"),
            round_half_up(F.avg("l_quantity"), 2).alias("avg_qty"),
            round_half_up(F.avg("l_discount"), 4).alias("avg_discount"),
            bulk.alias("bulk_items"),
            round_half_up(bulk.cast("double") / F.count(F.lit(1)) * 100, 2).alias(
                "bulk_percentage"
            ),
        )
        .orderBy(F.desc("total_items"), "l_returnflag", "l_linestatus")
    )


@_q(
    "rollup_summary",
    f"""
    SELECT COALESCE(o_orderpriority, '__ALL__') AS priority,
           COUNT(*) AS total_orders,
           {sql_round('SUM(o_totalprice)', 2)} AS total_value
    FROM orders
    GROUP BY ROLLUP(o_orderpriority)
    ORDER BY total_orders DESC, priority
    """,
    "A8: two-level rollup in one pass — grouping sets replace the "
    "reference's post-agg re-aggregation (dags/flight_data_pipeline.py:168-174)",
)
def q_rollup_summary(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("total_value"),
        )
        .withColumn(
            "priority", F.coalesce(F.col("o_orderpriority"), F.lit("__ALL__"))
        )
        .select("priority", "total_orders", "total_value")
        .orderBy(F.desc("total_orders"), F.asc("priority"))
    )


@_q(
    "market_share_by_year",
    f"""
    SELECT o_year,
           {sql_round("SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END) / SUM(volume)", 6)} AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p, supplier s, lineitem l, orders o, customer c,
           nation n1, nation n2, region r
      WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
        AND r.r_name = 'AMERICA' AND s.s_nationkey = n2.n_nationkey
        AND p.p_type = 'ECONOMY'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
    "TPC-H Q8 shape (national market share): the 8-table join with the "
    "nation dimension playing TWO roles (customer-side region filter, "
    "supplier-side share numerator) — the plan every BI tool emits for "
    "share-of-segment questions. All dims broadcast; the only shuffles "
    "are the lineitem⋈orders fact join and the year aggregate",
)
def q_market_share_by_year(spark, sf_dir):
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        # supplier carries no hint: unlike nation/region (fixed-size) or
        # the type-filtered part slice, it GROWS with scale factor
        # (TPC-H: SF x 10k rows — ~150 GB at the 100 TB SF), so whether
        # to broadcast is a runtime size question; AQE converts the join
        # to broadcast when the actual size is under the threshold.
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2.n_nationkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
            vol.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            round_half_up(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_q(
    "only_late_supplier_wait",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 100 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    "TPC-H Q21 shape (suppliers who kept orders waiting), adapted to "
    "this schema's dates (late = shipped >100 days after order): for "
    "finished orders, count per supplier the orders where it "
    "participated late, at least one OTHER supplier participated, and "
    "NO other supplier was late — the exists + not-exists double "
    "correlation compiled to a semi join plus an anti join on the "
    "order key, no correlated re-execution",
)
def q_only_late_supplier_wait(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            (F.col("o_orderstatus") == "F")
            & (
                F.col("l_shipdate").cast("date")
                > F.date_add(F.col("o_orderdate").cast("date"), 100)
            )
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l1 = late.alias("l1")
    # at least one other supplier in the order
    others = li.select("l_orderkey", "l_suppkey").alias("l2")
    has_other = l1.join(
        others,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    # ...and no OTHER supplier was late on the same order
    other_late = late.alias("l3")
    only_late = has_other.alias("l1").join(
        other_late,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    out = (
        only_late.join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return top_k(out, "numwait", 20, tiebreakers=["s_name"])


@_q(
    "cheapest_supplier_per_part",
    f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      WHERE l_suppkey IS NOT NULL
      GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
             ROW_NUMBER() OVER (PARTITION BY c.l_partkey
                                ORDER BY c.unit_cost, c.l_suppkey) AS rn
      FROM cost c
    )
    SELECT p.p_partkey, p.p_name, s.s_name,
           {sql_round('r.unit_cost', 4)} AS best_unit_cost
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey AND p.p_type = 'PROMO'
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1
    ORDER BY p.p_partkey
    """,
    "TPC-H Q2 shape (min-cost supplier), adapted to this schema "
    "(lineitem's observed unit price stands in for the absent "
    "partsupp.ps_supplycost): per-(part, supplier) min unit cost, then "
    "the ARGMIN supplier per part via one window pass over the "
    "already-aggregated (small) cost table — the correlated "
    "min-subquery decorrelated into aggregate + rank, no per-part "
    "re-execution; dims join after the rank so only winners are "
    "joined. NULL l_suppkey rows are excluded EXPLICITLY on both "
    "sides: on a unit-cost tie Spark's window ranks NULL keys first "
    "(NULLS FIRST asc) while DuckDB ranks them last, so without the "
    "guard a future NULL supplier key could silently swallow a "
    "part's winner on one engine only",
)
def q_cheapest_supplier_per_part(spark, sf_dir):
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey").isNotNull()
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(F.broadcast(p), best["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), best["l_suppkey"] == s["s_suppkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            round_half_up(F.col("unit_cost"), 4).alias("best_unit_cost"),
        )
        .orderBy("p_partkey")
    )


@_q(
    "supplier_part_variety",
    """
    SELECT p_brand, p_type,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND l.l_suppkey IS NOT NULL
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
    "TPC-H Q16 shape (parts/supplier relationship), adapted to this "
    "schema (no partsupp: lineitem is the observed part-supplier "
    "relation; the complaints exclusion becomes negative-balance "
    "suppliers): distinct-supplier counts per part attribute group "
    "with a NOT IN exclusion subquery. The exclusion decorrelates to "
    "a broadcast left-anti join (the excluded list is dimension-"
    "sized); part broadcasts after its filters; the only shuffle is "
    "the (brand, type, suppkey) distinct-aggregate — count(DISTINCT) "
    "expands to a two-phase aggregate, never a row-level distinct of "
    "the fact table. NULL l_suppkey rows are excluded EXPLICITLY on "
    "both sides: a left-anti join keeps NULL keys (never equal to any "
    "exclusion row) while SQL NOT IN drops them against a non-empty "
    "list, so without the guard the two engines diverge the first "
    "time the fact table carries a NULL supplier key",
)
def q_supplier_part_variety(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey").isNotNull()
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
    )
    bad = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


@_q(
    "dominant_part_suppliers",
    """
    WITH vol AS (
      SELECT l_partkey, l_suppkey,
             SUM(l_quantity) AS sq
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
      SELECT l_partkey, SUM(sq) AS tq, COUNT(*) AS ns
      FROM vol GROUP BY l_partkey
    ),
    dom AS (
      SELECT DISTINCT l_suppkey FROM vol JOIN tot USING (l_partkey)
      WHERE sq * ns > 3 * tq
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
    ORDER BY s.s_suppkey
    """,
    "TPC-H Q20 shape (excess-availability suppliers), adapted to this "
    "schema (no partsupp: 'availability > half the part's demand' "
    "becomes 'ships >3x the mean per-supplier share of a part's "
    "volume'): a nested correlated-aggregate condition feeding a "
    "semi-join back to the supplier dimension. The per-(part, "
    "supplier) volumes aggregate once, the per-part totals derive "
    "from THAT aggregate (no second fact scan), the dominance filter "
    "is integer cross-multiplication, and the qualifying supplier "
    "ids semi-join the dimension. Threshold verified non-empty at "
    "sf0.001 (3 suppliers) and sf0.01 (99)",
)
def q_dominant_part_suppliers(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    vol = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("sq")
    )
    tot = vol.groupBy("l_partkey").agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    dom = (
        vol.join(tot, "l_partkey")
        .filter(F.col("sq") * F.col("ns") > 3 * F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dom, s["s_suppkey"] == dom["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


@_q(
    "global_sales_opportunity",
    f"""
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_round('SUM(c_acctbal)', 2)} AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0
                         AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    "TPC-H Q22 shape (global sales opportunity), nation-keyed instead "
    "of phone-prefixed: among a fixed country subset, customers with "
    "above-average positive balance and NO urgent orders, counted and "
    "summed per nation. The scalar AVG subquery is a broadcast 1-row "
    "cross-join (computed once, never per row), the NOT EXISTS is a "
    "left-anti join on the customer key — no correlated re-execution "
    "anywhere. The anti-join is scoped to '1-URGENT' orders because in "
    "the driver's synthetic data every customer has >=1 order of SOME "
    "priority, which made the unscoped NOT EXISTS vacuously empty at "
    "every SF (0=0 oracle matches prove nothing — same tuning "
    "discipline as full_outer_nation_presence below); verified "
    "non-empty at sf0.001 (3 rows) and sf0.01 (7 rows, all nations)",
)
def q_global_sales_opportunity(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    subset = c.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
    avg_bal = subset.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        subset.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round_half_up(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


@_q(
    "product_profit_by_nation_year",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
           SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * l.l_quantity * 0.1) * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, EXTRACT(year FROM CAST(o.o_orderdate AS DATE))
    ORDER BY nation, o_year DESC
    """,
    "TPC-H Q9 shape (product-type profit), adapted to this schema "
    "(no partsupp: unit cost proxied as 10% of p_retailprice): "
    "5-table join filtered by part-name LIKE, profit aggregated by "
    "supplier nation x order year. part/supplier/nation broadcast "
    "(part after its selective name filter), so the only shuffles are "
    "lineitem joining orders and the (nation, year) aggregate — "
    "TPC-H's hardest join query kept to two shuffles. Each line's "
    "profit is rounded to integer cents BEFORE the sum: int64 "
    "summation is order-independent, so the result is bit-stable "
    "across partitionings (a raw double SUM at ~1e6 magnitude drifts "
    "past the cent boundary between engines)",
)
def q_product_profit_by_nation_year(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    # per-line cents (bit-identical in any engine evaluating the same
    # IEEE expression), summed as int64 — order-independent
    profit_cents = F.floor(profit * 100 + F.lit(0.5)).cast("long")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year"),
            profit_cents.alias("__cents"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("__cents") / F.lit(100.0)).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@_q(
    "full_outer_nation_presence",
    """
    WITH c AS (
      SELECT c_nationkey AS cnk, COUNT(*) AS n_rich_customers
      FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey
    ),
    s AS (
      SELECT s_nationkey AS snk, COUNT(*) AS n_poor_suppliers
      FROM supplier WHERE s_acctbal < -300 GROUP BY s_nationkey
    )
    SELECT COALESCE(cnk, snk) AS nation_key,
           CAST(COALESCE(n_rich_customers, 0) AS BIGINT) AS n_rich_customers,
           CAST(COALESCE(n_poor_suppliers, 0) AS BIGINT) AS n_poor_suppliers,
           CASE WHEN cnk IS NOT NULL AND snk IS NOT NULL THEN 'both'
                WHEN cnk IS NOT NULL THEN 'customers_only'
                ELSE 'suppliers_only' END AS presence
    FROM c FULL OUTER JOIN s ON cnk = snk
    ORDER BY nation_key
    """,
    "J3 completion: FULL OUTER join — nations present on either side of "
    "two asymmetric aggregates survive with typed nulls coalesced to "
    "zero and a presence flag; the filters are tuned so BOTH unmatched "
    "directions occur at the driver's sf0.01 (a full outer join where "
    "every key matches degenerates to an inner join and proves nothing)",
)
def q_full_outer_nation_presence(spark, sf_dir):
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("cnk"))
        .agg(F.count(F.lit(1)).alias("n_rich_customers"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < -300)
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count(F.lit(1)).alias("n_poor_suppliers"))
    )
    return (
        c.join(s, c["cnk"] == s["snk"], "full_outer")
        .select(
            F.coalesce(F.col("cnk"), F.col("snk")).alias("nation_key"),
            F.coalesce(F.col("n_rich_customers"), F.lit(0)).cast("long").alias(
                "n_rich_customers"
            ),
            F.coalesce(F.col("n_poor_suppliers"), F.lit(0)).cast("long").alias(
                "n_poor_suppliers"
            ),
            F.when(
                F.col("cnk").isNotNull() & F.col("snk").isNotNull(), "both"
            )
            .when(F.col("cnk").isNotNull(), "customers_only")
            .otherwise("suppliers_only")
            .alias("presence"),
        )
        .orderBy("nation_key")
    )


@_q(
    "airline_rollup_metrics",
    f"""
    SELECT COALESCE(airline, '__ALL__') AS airline,
           COUNT(*) AS total_flights,
           COUNT(CASE WHEN status = 'O' THEN 1 END) AS delayed_flights,
           {sql_round("CAST(COUNT(CASE WHEN status = 'F' THEN 1 END) AS DOUBLE) / COUNT(*) * 100", 2)} AS ontime_percentage
    FROM (SELECT o_orderpriority AS airline, o_orderstatus AS status FROM orders)
    GROUP BY ROLLUP(airline)
    ORDER BY total_flights DESC, airline
    """,
    "A8 driver-checked through the engine's own airline_rollup operator "
    "(queries/airline.py:149): per-airline metrics + the grand total in "
    "ONE grouping-sets pass — replaces the reference's two-step "
    "post-agg re-aggregation (dags/flight_data_pipeline.py:168-174). "
    "Orders are mapped to the flights shape (priority→airline, "
    "F→On Time, O→Delayed) so the operator runs on driver testdata",
)
def q_airline_rollup_metrics(spark, sf_dir):
    from airline_data_pipeline_spark.queries.airline import airline_rollup

    o = table(spark, sf_dir, "orders")
    flights_shaped = o.select(
        F.col("o_orderpriority").alias("airline"),
        F.when(F.col("o_orderstatus") == "F", "On Time")
        .when(F.col("o_orderstatus") == "O", "Delayed")
        .otherwise("Scheduled")
        .alias("flight_status"),
    )
    return airline_rollup(flights_shaped)


@_q(
    "bottom_k",
    f"""
    SELECT c_custkey, c_name, {sql_round('c_acctbal', 2)} AS acctbal
    FROM customer
    ORDER BY acctbal ASC, c_custkey ASC
    LIMIT 5
    """,
    "A9: bottom-k by metric (worst routes, dags/flight_data_pipeline.py:216)",
)
def q_bottom_k(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", round_half_up(F.col("c_acctbal"), 2).alias("acctbal")
    )
    return top_k(c, "acctbal", 5, ascending=True, tiebreakers=["c_custkey"])


@_q(
    "distinct_union",
    """
    SELECT DISTINCT c_nationkey AS nation_key FROM customer
    UNION
    SELECT DISTINCT s_nationkey FROM supplier
    ORDER BY nation_key
    """,
    "A10: distinct + set-union (airports list, api/app.py:322-324)",
)
def q_distinct_union(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation_key")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation_key")
    )
    return c.union(s).distinct().orderBy("nation_key")


@_q(
    "intersect_except_nations",
    """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nation_key FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nation_key FROM supplier)
    SELECT nation_key, 'both' AS side FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
    UNION ALL
    SELECT nation_key, 'customer_only' AS side FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
    ORDER BY side, nation_key
    """,
    "set ops beyond A10's union: INTERSECT and EXCEPT (distinct "
    "semantics) over customer vs supplier nations",
)
def q_intersect_except_nations(spark, sf_dir):
    cn = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation_key")
    )
    sn = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation_key")
    )
    both = cn.intersect(sn).withColumn("side", F.lit("both"))
    only = cn.subtract(sn).withColumn("side", F.lit("customer_only"))
    return both.unionAll(only).select("nation_key", "side").orderBy(
        "side", "nation_key"
    )


@_q(
    "count_distinct",
    """
    SELECT COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(*) AS total_rows
    FROM lineitem
    """,
    "distinct aggregation (engine surface beyond reference; SURVEY §2.4 note)",
)
def q_count_distinct(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.count(F.lit(1)).alias("total_rows"),
    )


@_q(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_round('SUM(l_quantity)', 2)} AS sum_qty,
           {sql_round('SUM(l_extendedprice)', 2)} AS sum_base_price,
           {sql_round('SUM(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
           {sql_round('SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge,
           {sql_round('AVG(l_quantity)', 4)} AS avg_qty,
           {sql_round('AVG(l_extendedprice)', 4)} AS avg_price,
           {sql_round('AVG(l_discount)', 4)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: the canonical multi-agg groupBy (bench headline)",
)
def q_pricing_summary(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            round_half_up(F.sum(disc_price), 2).alias("sum_disc_price"),
            round_half_up(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias(
                "sum_charge"
            ),
            round_half_up(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_half_up(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_half_up(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ===========================================================================
# §2.3 joins
# ===========================================================================
@_q(
    "revenue_by_nation",
    f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_items,
           {sql_round('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    "J2: star-schema chain join (TPC-H Q5 shape) — dims broadcast, "
    "fact never shuffles for the broadcast joins",
)
def q_revenue_by_nation(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@_q(
    "customers_no_urgent",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    "J3: anti-join (NOT EXISTS) — the dedup-against-reference primitive",
)
def q_customers_no_urgent(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@_q(
    "customers_with_urgent_orders",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    "J3: semi-join (EXISTS)",
)
def q_customers_with_urgent_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@_q(
    "left_join_order_counts",
    """
    SELECT c.c_custkey, c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    ORDER BY c.c_custkey
    """,
    "J3: left outer join preserving unmatched rows (count(col) skips nulls)",
)
def q_left_join_order_counts(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@_q(
    "asof_purchase_view",
    f"""
    SELECT p.event_id, p.user_id, {sql_round('v.value', 4)} AS last_view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
    "J4: as-of join — most recent 'view' at or before each 'purchase', "
    "per user; union+window implementation (no range cross-product)",
)
def q_asof_purchase_view(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(purchases, views, on="ts", by=["user_id"], right_cols=["value"])
    return joined.select(
        "event_id",
        "user_id",
        round_half_up(F.col("value_asof"), 4).alias("last_view_value"),
    ).orderBy("event_id")


@_q(
    "asof_tolerance_pandas",
    f"""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'view'
    ),
    a AS (
      SELECT p.event_id, p.user_id, p.ts AS pts, v.ts AS vts, v.value AS vvalue
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
    )
    SELECT event_id, user_id,
           CASE WHEN vts IS NOT NULL
                     AND epoch_us(pts) - epoch_us(vts) <= CAST(3600 AS BIGINT) * 1000000
                THEN {sql_round('vvalue', 4)} END AS last_view_value_1h
    FROM a ORDER BY event_id
    """,
    "J4 (tolerance variant): as-of join with a 1-hour tolerance — a "
    "view older than an hour is no match (merge_asof semantics the "
    "union+window trick can't express); Arrow-batched grouped-map "
    "pd.merge_asof, one shuffle on the user key. Oracle: DuckDB ASOF "
    "LEFT JOIN with the tolerance applied as a null-out",
)
def q_asof_tolerance_pandas(spark, sf_dir):
    import pandas as pd

    from airline_data_pipeline_spark.operators.asof import asof_join_pandas

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join_pandas(
        purchases, views, on="ts", by="user_id", tolerance=pd.Timedelta(hours=1)
    )
    # merge_asof leaves NaN (not null) on float no-matches; normalize so
    # the tz-naive SQL oracle's NULL agrees
    val = F.when(F.isnan(F.col("value_asof")), F.lit(None)).otherwise(
        F.col("value_asof")
    )
    return joined.select(
        "event_id",
        "user_id",
        round_half_up(val, 4).alias("last_view_value_1h"),
    ).orderBy("event_id")


# ===========================================================================
# §2.5 windows
# ===========================================================================
@_q(
    "topk_per_group",
    f"""
    SELECT c_nationkey, c_custkey, {sql_round('c_acctbal', 2)} AS acctbal
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    ORDER BY c_nationkey, acctbal DESC, c_custkey
    """,
    "W2: top-k per group via rank window — one shuffle on the group key",
)
def q_topk_per_group(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    out = top_k_per_group(c, ["c_nationkey"], "c_acctbal", 3, tiebreakers=["c_custkey"])
    return out.select(
        "c_nationkey", "c_custkey", round_half_up(F.col("c_acctbal"), 2).alias("acctbal")
    ).orderBy("c_nationkey", F.desc("acctbal"), "c_custkey")


@_q(
    "rolling_avg_daily_value",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, {sql_round('SUM(value)', 4)} AS day_value
      FROM events GROUP BY CAST(ts AS DATE)
    )
    SELECT day, day_value,
           {sql_round('AVG(day_value) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)', 4)} AS avg_7d
    FROM daily
    ORDER BY day
    """,
    "W3: running-frame aggregate — 7-day moving average of daily totals",
)
def q_rolling_avg_daily_value(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        round_half_up(F.sum("value"), 4).alias("day_value")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.withColumn(
        "avg_7d", round_half_up(F.avg("day_value").over(w), 4)
    ).orderBy("day")


@_q(
    "lag_order_gap",
    """
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           DATE_DIFF('day',
                     LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                     CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, order_date, o_orderkey
    """,
    "W4: lag — days between consecutive orders per customer "
    "(the tail-number turnaround pattern)",
)
def q_lag_order_gap(spark, sf_dir):
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .withColumn("order_date", F.col("o_orderdate").cast("date"))
    )
    w = Window.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "order_date",
        F.datediff(F.col("order_date"), F.lag("order_date").over(w))
        .cast("long")
        .alias("days_since_prev"),
    ).orderBy("o_custkey", "order_date", "o_orderkey")


@_q(
    "sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800 * 1000000 OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events
    )
    SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions
    FROM marked GROUP BY user_id
    ORDER BY user_id
    """,
    "sessionization: 30-min-gap sessions per user via lag + cumulative "
    "marks (batch analog of session_window; SURVEY §2.8)",
)
def q_sessionize(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast first: tolerate TIMESTAMP_NTZ from a bare session (Spark 4
    # default parquet inference) — unix_micros only takes TIMESTAMP
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(micros).over(w)
    marked = ev.withColumn(
        "is_new",
        F.when(prev.isNull() | ((micros - prev) > 1800 * 1_000_000), 1).otherwise(0),
    )
    return (
        marked.groupBy("user_id")
        .agg(F.sum("is_new").cast("long").alias("n_sessions"))
        .orderBy("user_id")
    )


# ===========================================================================
# semi-structured / JSON (F11) + streaming-shape batch windows
# ===========================================================================
@_q(
    "scd2_user_value_history",
    f"""
    SELECT user_id,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           event_id,
           {sql_round('value', 4)} AS value,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    ORDER BY user_id, valid_from, event_id
    """,
    "SCD type-2 dimension build (the warehouse history-table op the "
    "reference's daily overwrite loses): each user's event stream "
    "becomes validity intervals — valid_from = event time, valid_to = "
    "next event's time (NULL ⇒ current row). One shuffle on user_id, "
    "lead() within the partition; at 100 TB this is the standard "
    "changelog→dimension compaction and stays a single window pass",
)
def q_scd2_user_value_history(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            "event_id",
            round_half_up(F.col("value"), 4).alias("value"),
            F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "event_id")
    )


@_q(
    "json_props",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "F11: JSON field extraction from a string column, aggregated",
)
def q_json_props(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_total"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@_q(
    "variant_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(COUNT(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL THEN 1 END) AS BIGINT) AS n_missing_field
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "F11 via Spark 4's VARIANT type: props parsed ONCE with parse_json "
    "into the binary variant encoding, then typed variant_get "
    "extractions — the modern semi-structured path (one parse, many "
    "typed reads; get_json_object re-parses the string per field). "
    "Absent paths return typed NULL, counted to prove the missing-field "
    "contract matches SQL json_extract semantics",
)
def q_variant_props_stats(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("__v"))
    k = F.variant_get("__v", "$.k", "bigint")
    missing = F.variant_get("__v", "$.missing", "string")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("k_sum"),
            F.max(k).alias("k_max"),
            F.count(F.when(missing.isNotNull(), 1)).alias("n_missing_field"),
        )
        .orderBy("event_type")
    )


@_q(
    "tumbling_window_counts",
    f"""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_round('SUM(value)', 4)} AS total_value
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    "streaming §2.8 (batch side): tumbling 1-hour windows per event type — "
    "same aggregation the streaming job runs; stream-batch equivalence is "
    "tested in tests/test_streaming.py",
)
def q_tumbling_window_counts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@_q(
    "streaming_tumbling_window_counts",
    f"""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_round('SUM(value)', 4)} AS total_value
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    "streaming §2.8 (STREAM side, driver-checkable): the events table is "
    "replayed through the real Structured Streaming engine — file "
    "micro-batch source → watermarked tumbling window aggregation → "
    "AvailableNow drain into a memory sink — and the drained result must "
    "equal the plain batch SQL the oracle runs. Complete output mode "
    "makes the final state deterministic (append would withhold windows "
    "newer than the final watermark)",
)
def q_streaming_tumbling_window_counts(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        windowed_counts,
    )

    ev = table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    agg = windowed_counts(
        read_event_stream(spark, src), window="1 hour", watermark="10 minutes"
    )
    name = "stream_tumbling_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    run_available_now(agg, name, output_mode="complete", checkpoint_dir=ckpt)
    out = (
        spark.table(name)
        .select(
            "window_start",
            "event_type",
            "n",
            round_half_up(F.col("total_value"), 4).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "streaming_dedup_events",
    f"""
    SELECT event_type, COUNT(*) AS n, {sql_round('SUM(value)', 4)} AS total_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    "streaming §2.8 (stateful dedup, driver-checkable): the events table "
    "plus two extra copies of every 97th event is replayed through the "
    "real streaming engine — file source → watermarked "
    "dropDuplicatesWithinWatermark on event_id → AvailableNow drain — "
    "and the deduped stream must aggregate exactly like the pristine "
    "batch table (event_id is unique in events, so dedup recovers it). "
    "The watermark delay is set past the data's time span so no dedup "
    "state expires mid-replay; in production it bounds state to the "
    "late-data horizon",
)
def q_streaming_dedup_events(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        dedup_events_stream,
        read_event_stream,
        run_available_now,
    )

    ev = table(spark, sf_dir, "events")
    dups = ev.filter(F.col("event_id") % 97 == 0)
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.unionByName(dups).unionByName(dups).write.mode("overwrite").parquet(src)
    deduped = dedup_events_stream(
        read_event_stream(spark, src), watermark="87600 hours"
    )
    name = "stream_dedup_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    run_available_now(deduped, name, output_mode="append", checkpoint_dir=ckpt)
    out = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
    # the memory sink holds the full deduped event stream in driver
    # memory and src holds a tripled copy of events on disk — both are
    # per-invocation scratch; release them once the aggregate is local
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "streaming_state_introspection",
    """
    SELECT event_id, 'dedupeWithinWatermark' AS operator_name
    FROM (SELECT DISTINCT event_id FROM events WHERE event_id % 7 = 0)
    ORDER BY event_id
    """,
    "streaming §2.8 observability (driver-checkable): after a "
    "watermarked dropDuplicatesWithinWatermark replay, the checkpoint's "
    "STATE STORE is read back as a DataFrame through Spark 4's "
    "statestore/state-metadata sources — the ops tooling for inspecting "
    "(and at 100 TB, auditing or repartition-migrating) streaming state "
    "without replaying the stream. The watermark delay exceeds the "
    "data's time span so nothing is evicted, making the recovered state "
    "keys exactly the distinct event ids of the replayed slice (the "
    "duplicates re-injected before replay must NOT add state rows), and "
    "the operator name comes from the state-metadata source — both "
    "facts the oracle recomputes relationally",
)
def q_streaming_state_introspection(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        dedup_events_stream,
        read_event_stream,
        run_available_now,
    )

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    dups = ev.filter(F.col("event_id") % 3 == 0)
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.unionByName(dups).write.mode("overwrite").parquet(src)
    deduped = dedup_events_stream(
        read_event_stream(spark, src), watermark="87600 hours"
    )
    name = "stream_state_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    run_available_now(deduped, name, output_mode="append", checkpoint_dir=ckpt)
    state = spark.read.format("statestore").load(ckpt)
    meta = spark.read.format("state-metadata").load(ckpt)
    out = (
        state.select(F.col("key.event_id").alias("event_id"))
        .crossJoin(
            F.broadcast(meta.select(F.col("operatorName").alias("operator_name")))
        )
        .orderBy("event_id")
    )
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "streaming_state_migration",
    f"""
    SELECT event_type, COUNT(*) AS n, {sql_round('SUM(value)', 4)} AS total_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    "streaming §2.8 STATE MIGRATION (VERDICT r11 #4, driver-checkable): "
    "rebuild a dedup checkpoint after an operator change. Phase 1 "
    "replays the even-id half (plus re-sent copies of every 97th "
    "event) through watermarked dropDuplicatesWithinWatermark into a "
    "parquet sink under checkpoint A. The operator then 'changes' "
    "(new sink/plan — Spark refuses to resume A), so the state "
    "migrates: dump_dedup_state reads A's state store back through "
    "the statestore source (no replay) and lands the seen-key set as "
    "a parquet snapshot; run_migrated_dedup_sink resumes on a FRESH "
    "checkpoint where in-stream dups hit the new dedup state and "
    "cross-restart replays (phase 2's source re-sends the phase-1 "
    "dups AGAIN, plus the odd half with its own dups) hit a "
    "per-micro-batch anti-join against the snapshot. The landed union "
    "of both incarnations must aggregate exactly like the pristine "
    "events table — the same oracle as streaming_dedup_events, i.e. "
    "the migrated pipeline equals one uninterrupted replay",
)
def q_streaming_state_migration(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        dedup_events_stream,
        dump_dedup_state,
        read_event_stream,
        run_migrated_dedup_sink,
        start_parquet_sink,
    )

    ev = table(spark, sf_dir, "events")
    part1 = ev.filter(F.col("event_id") % 2 == 0)
    part2 = ev.filter(F.col("event_id") % 2 == 1)
    dups1 = part1.filter(F.col("event_id") % 97 == 0)
    dups2 = part2.filter(F.col("event_id") % 97 == 0)
    src1 = tempfile.mkdtemp(prefix="spark_graft_mig_src1_")
    out1 = tempfile.mkdtemp(prefix="spark_graft_mig_out1_")
    ckpt1 = tempfile.mkdtemp(prefix="spark_graft_mig_ckpt1_")
    part1.unionByName(dups1).write.mode("overwrite").parquet(src1)
    start_parquet_sink(
        dedup_events_stream(
            read_event_stream(spark, src1), watermark="87600 hours"
        ),
        out1, ckpt1, available_now=True,
    )
    snap = tempfile.mkdtemp(prefix="spark_graft_mig_snap_")
    dump_dedup_state(spark, ckpt1, snap)
    src2 = tempfile.mkdtemp(prefix="spark_graft_mig_src2_")
    out2 = tempfile.mkdtemp(prefix="spark_graft_mig_out2_")
    ckpt2 = tempfile.mkdtemp(prefix="spark_graft_mig_ckpt2_")
    # 2 files × 1 per trigger: the resumed stream must stay correct
    # across multiple micro-batches, not just one
    part2.unionByName(dups2).unionByName(dups1).repartition(2).write.mode(
        "overwrite"
    ).parquet(src2)
    run_migrated_dedup_sink(
        read_event_stream(spark, src2, max_files_per_trigger=1),
        snap, out2, ckpt2, watermark="87600 hours",
    )
    landed = spark.read.parquet(out1).unionByName(
        spark.read.parquet(out2).drop("batch")
    )
    out = (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
    return _localized(
        spark, out, scratch_dirs=(src1, out1, ckpt1, snap, src2, out2, ckpt2)
    )


@_q(
    "streaming_interval_join_views",
    """
    SELECT p.event_id, COUNT(v.event_id) AS views_within_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts AND epoch_us(v.ts) <= epoch_us(p.ts) + 3600000000::BIGINT
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
    "streaming §2.8 (STREAM-STREAM JOIN, driver-checkable): purchases "
    "and views are replayed as two watermarked streams and joined by "
    "the real engine's interval join (user equi-key + event-time range "
    "condition, so per-key buffered state is bounded by the watermark "
    "horizon instead of growing forever) — the drained pairs, counted "
    "per purchase with zero-match purchases restored batch-side, must "
    "equal the batch interval join the oracle runs. Same semantics as "
    "range_join_views_after_purchase, proving the engine's batch and "
    "streaming paths agree on J4",
)
def q_streaming_interval_join_views(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        views_after_purchases_join,
    )

    ev = table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    purchases = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    views = read_event_stream(spark, src).filter(F.col("event_type") == "view")
    pairs = views_after_purchases_join(
        purchases, views, window_seconds=3600, watermark="87600 hours"
    )
    name = "stream_ijoin_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    # A stream-stream join keeps FOUR state stores per shuffle partition
    # (left/right × keyToNumValues/keyWithIndexToValue), each with
    # per-batch checkpoint fsyncs — at the session's 32 partitions that
    # is 128 store dirs dominating this single-node replay (~11 s). At
    # this replay's volume 8 partitions carry the state comfortably
    # (~3× faster); a real deployment sizes this to cluster cores via
    # spark.sql.shuffle.partitions as usual. Scoped + restored so the
    # caller's session conf is untouched.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_available_now(pairs, name, output_mode="append", checkpoint_dir=ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    counts = (
        spark.table(name)
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("views_within_1h"))
    )
    # left-join semantics: purchases with zero matched views still appear
    out = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id")
        .join(counts, F.col("event_id") == F.col("purchase_id"), "left")
        .select(
            "event_id",
            F.coalesce("views_within_1h", F.lit(0)).alias("views_within_1h"),
        )
        .orderBy("event_id")
    )
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "streaming_interval_left_join_views",
    """
    SELECT p.event_id, COUNT(v.event_id) AS views_within_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts AND epoch_us(v.ts) <= epoch_us(p.ts) + 3600000000::BIGINT
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
    "streaming §2.8 (stream-stream LEFT OUTER join — the hard "
    "watermark case): a purchase with no view in its window emits a "
    "null-padded row only once the watermark PROVES no match can still "
    "arrive, and at end-of-stream the watermark stalls, so a far-future "
    "flush sentinel (filtered back out) pushes it past the real data. "
    "Unlike streaming_interval_join_views, the zero-view purchases "
    "here come PURELY from the stream — no batch-side restore; the "
    "drained rows must reproduce the batch left interval join exactly",
)
def q_streaming_interval_left_join_views(spark, sf_dir):
    import datetime as dt
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        land_time_ordered_replay,
        read_event_stream,
        run_available_now,
        views_after_purchases_join,
    )

    ev = table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # driver scalar
    # one slice (not 32 Python-evaluated default slices) for a 2-row
    # frame; plain pickle path kept for the timestamp column
    sentinel = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (-1, max_ts + dt.timedelta(days=30), -1, "purchase", 0.0, "{}"),
                (-2, max_ts + dt.timedelta(days=30), -1, "view", 0.0, "{}"),
            ],
            1,
        ),
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    land_time_ordered_replay(ev, src, n_chunks=4, sentinel_df=sentinel)
    purchases = read_event_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    views = read_event_stream(spark, src, max_files_per_trigger=1).filter(
        F.col("event_type") == "view"
    )
    pairs = views_after_purchases_join(
        purchases, views, window_seconds=3600, watermark="1 minute",
        how="left_outer",
    )
    name = "stream_lojoin_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    # same state-store sizing rationale as streaming_interval_join_views
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_available_now(pairs, name, output_mode="append", checkpoint_dir=ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    out = (
        spark.table(name)
        .filter(F.col("p_user") != -1)  # drop the flush sentinel
        .groupBy(F.col("purchase_id").alias("event_id"))
        .agg(F.count("view_id").alias("views_within_1h"))
        .orderBy("event_id")
    )
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "streaming_parquet_sink_roundtrip",
    f"""
    SELECT event_type, COUNT(*) AS n, {sql_round('SUM(value)', 4)} AS total_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    "streaming §2.8 (SINK side, driver-checkable): events replayed "
    "through the real engine into the exactly-once PARQUET sink "
    "(append + checkpoint, AvailableNow drain), then the landed files "
    "are read back as a batch table — the write-path twin of the "
    "memory-sink queries. Aggregate of the landed data must equal the "
    "oracle's aggregate of the source table",
)
def q_streaming_parquet_sink_roundtrip(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        read_event_stream,
        start_parquet_sink,
    )

    ev = table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    root = tempfile.mkdtemp(prefix="spark_graft_stream_sink_")
    sink, ckpt = root + "/data", root + "/ckpt"
    start_parquet_sink(
        read_event_stream(spark, src), sink, ckpt, available_now=True
    )
    out = (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
    return _localized(spark, out, scratch_dirs=(src, root))


@_q(
    "sliding_window_counts",
    f"""
    SELECT window_start, event_type, COUNT(*) AS n,
           {sql_round('SUM(value)', 4)} AS total_value
    FROM (
      SELECT DATE_TRUNC('hour', ts) - (k * INTERVAL 1 HOUR) AS window_start,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(k)
    )
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    "streaming §2.8 (batch side): sliding 2-hour windows every hour — each "
    "event lands in exactly width/slide = 2 windows (epoch-aligned, same "
    "as Spark's window()); SQL twin replays the overlap as a 2-row "
    "offsets cross join",
)
def q_sliding_window_counts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# ===========================================================================
# §2.10 dedup / text analysis / similarity
# ===========================================================================
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
# --- shared DuckDB fragments for the text-analysis / dedup oracles --------
# The engine computes these with Spark built-ins; the oracle recomputes the
# SAME definitions from first principles in DuckDB SQL. Cross-engine parity
# of the primitives (md5-derived 60-bit hash, unicode script ranges, \s+
# tokenization) is bit-verified in tests/test_properties.py.
_DUCK_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')"
_DUCK_LTOKS = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')"


@_q(
    "dedup_exact_docs",
    f"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    GROUP BY norm
    ORDER BY doc_id
    """,
    "exact dedup: normalized-text fingerprint groups; keeps min doc_id "
    "(deterministic survivor) and reports group sizes",
)
def q_dedup_exact_docs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "dup_count")
        .orderBy("doc_id")
    )


@_q(
    "fingerprint_cardinality",
    f"""
    SELECT COUNT(*) AS total_docs,
           COUNT(DISTINCT {_NORM}) AS distinct_contents
    FROM documents
    """,
    "document fingerprinting: distinct-content cardinality (the xxhash64 "
    "fingerprint agrees with normalized-text distinctness by construction)",
)
def q_fingerprint_cardinality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(TX.fingerprint(F.col("text"))).alias("distinct_contents"),
    )


@_q(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_LTOKS}) AS term FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    g AS (
      SELECT term,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY term
    )
    SELECT term, df, tf,
           {sql_round('tf * (n_docs + 1) / (df + 1.0)', 4)} AS tfidf
    FROM g CROSS JOIN nd
    ORDER BY tfidf DESC, term
    LIMIT 20
    """,
    "text analysis: corpus-level TF-IDF relevance — explode lowercase "
    "tokens, per-term document frequency + term frequency in one "
    "shuffle on the term key, idf as the exact rational (N+1)/(df+1) "
    "(log-free: monotone in df, so ranking matches log-idf, and the "
    "double arithmetic is bit-identical across engines where ln() is "
    "not), global top-20 by score via TakeOrdered — the keyword-extract "
    "/ relevance-weighting primitive of a pretraining quality pipeline",
)
def q_tfidf_top_terms(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    g = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("tf"),
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    out = g.crossJoin(F.broadcast(nd)).select(
        "term",
        "df",
        "tf",
        round_half_up(
            F.col("tf") * (F.col("n_docs") + 1) / (F.col("df") + 1.0), 4
        ).alias("tfidf"),
    )
    return out.orderBy(F.desc("tfidf"), "term").limit(20)


@_q(
    "bpe_pair_counts",
    r"""
    WITH words AS (
      SELECT t AS w FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS u(t)
      WHERE t != ''
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, c
      FROM vocab, unnest(generate_series(1, len(w) - 1)) AS g(i)
      WHERE len(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 30
    """,
    "tokenizer induction: the first BPE merge iteration — corpus-wide "
    "adjacent character-pair frequencies, top-30 (Sennrich et al. 2016 "
    "§3.2 trains merges from a word-frequency dictionary, never the raw "
    "corpus). The scale lever is AGGREGATE-THEN-EXPAND: the only "
    "corpus-sized shuffle is the word-vocab groupBy (map-side partial "
    "combine collapses each partition to its local vocab, so shuffle "
    "bytes are vocab-bounded, not corpus-bounded); the per-character "
    "pair expansion then runs over DISTINCT words only, weighted by "
    "their counts — at 100 TB the expansion input is the few-million-"
    "row vocab, a ~10⁶× reduction vs exploding pairs per occurrence. "
    "The transform() HOF is interpreted, but over vocab-sized data "
    "with a cheap substring body — not the per-corpus-row HOF "
    "pathology the simhash rewrite removed",
)
def q_bpe_pair_counts(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pairs = vocab.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(30)
    )


@_q(
    "bpe_merge_steps",
    r"""
    WITH words AS (
      SELECT t AS w FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS u(t)
      WHERE t != ''
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w),
    v0 AS (SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), '  ') || ' '
                  AS s, c
           FROM vocab),
    p1 AS (SELECT t[CAST(i AS INT)] AS a, t[CAST(i AS INT) + 1] AS b, c
           FROM (SELECT string_split(trim(s), '  ') AS t, c FROM v0),
                unnest(generate_series(1, len(t) - 1)) AS g(i)),
    b1 AS (SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt FROM p1
           GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
    v1 AS (SELECT replace(s, (SELECT ' ' || a || '  ' || b || ' ' FROM b1),
                          (SELECT ' ' || a || b || ' ' FROM b1)) AS s, c FROM v0),
    p2 AS (SELECT t[CAST(i AS INT)] AS a, t[CAST(i AS INT) + 1] AS b, c
           FROM (SELECT string_split(trim(s), '  ') AS t, c FROM v1),
                unnest(generate_series(1, len(t) - 1)) AS g(i)),
    b2 AS (SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt FROM p2
           GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
    v2 AS (SELECT replace(s, (SELECT ' ' || a || '  ' || b || ' ' FROM b2),
                          (SELECT ' ' || a || b || ' ' FROM b2)) AS s, c FROM v1),
    p3 AS (SELECT t[CAST(i AS INT)] AS a, t[CAST(i AS INT) + 1] AS b, c
           FROM (SELECT string_split(trim(s), '  ') AS t, c FROM v2),
                unnest(generate_series(1, len(t) - 1)) AS g(i)),
    b3 AS (SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt FROM p3
           GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)
    SELECT CAST(1 AS INT) AS merge_step, a || b AS merged, cnt AS pair_count
    FROM b1
    UNION ALL SELECT CAST(2 AS INT), a || b, cnt FROM b2
    UNION ALL SELECT CAST(3 AS INT), a || b, cnt FROM b3
    ORDER BY merge_step
    """,
    "tokenizer induction, the ITERATIVE half: three full BPE merge "
    "steps (count pairs -> argmax merge -> rewrite vocab -> repeat), "
    "the loop `bpe_pair_counts` takes the first picture of. The "
    "distributed-algorithm shape mirrors connected components: all "
    "corpus-sized work happens ONCE (the word-count aggregate); each "
    "iteration then runs on the vocab-sized symbol table with two "
    "vocab-bounded exchanges (pair partial-sum + the 1-row argmax), "
    "and the only driver collects are the single-row argmaxes (model-"
    "sized, like IVF centroids). Merge application is greedy left-to-"
    "right non-overlapping, realized identically in both engines as "
    "literal string replace over space-BOUNDED double-space-joined "
    "symbols (' a  b  c '): every symbol carries its own boundary "
    "space on each side, so the pattern ' a  b ' can neither match "
    "across a symbol boundary (a suffix-a symbol followed by a "
    "prefix-b symbol has no space before the a) nor share a separator "
    "with an adjacent match — making replace == the sequential fold; "
    "argmax ties break on (count desc, left, right), integer-exact "
    "both sides",
)
def q_bpe_merge_steps(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # localCheckpoint (the connected-components discipline) pins the
    # vocab-sized symbol table on executors: the corpus-sized word
    # count runs exactly once, and each merge rewrite starts from the
    # materialized previous state instead of replaying the chain
    cur = vocab.select(
        F.concat(
            F.lit(" "),
            F.array_join(F.regexp_extract_all("w", F.lit("."), 0), "  "),
            F.lit(" "),
        ).alias("s"),
        "c",
    ).localCheckpoint()
    steps = []
    for step in range(1, 4):
        toks = cur.select(F.split(F.trim("s"), "  ").alias("t"), "c")
        pairs = toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), "
                    "slice(t, 2, size(t) - 1), (a, b) -> struct(a, b))"
                )
            ).alias("p"),
            "c",
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()[0]
        )
        steps.append((step, best["a"] + best["b"], int(best["cnt"])))
        cur = cur.select(
            F.replace(
                F.col("s"),
                F.lit(" " + best["a"] + "  " + best["b"] + " "),
                F.lit(" " + best["a"] + best["b"] + " "),
            ).alias("s"),
            "c",
        ).localCheckpoint()
    return local_df(
        spark, steps, "merge_step int, merged string, pair_count long"
    ).orderBy("merge_step")


_AVG_TOKENS_SQL = sql_round(
    r"AVG(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')))",
    4,
)


@_q(
    "text_stats_by_lang",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {_AVG_TOKENS_SQL} AS avg_tokens,
           {sql_round('AVG(n_chars)', 2)} AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY n_docs DESC, lang
    """,
    "text analysis: token counting + per-language corpus stats",
)
def q_text_stats_by_lang(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(F.avg(TX.token_count(F.col("text"))), 4).alias("avg_tokens"),
            round_half_up(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy(F.desc("n_docs"), F.asc("lang"))
    )


@_q(
    "token_budget",
    r"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))) AS BIGINT) AS bpe_ish_tokens,
           CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != ''))) AS BIGINT) AS ws_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    "text analysis: corpus token budgeting — whitespace + BPE-ish regex "
    "token counts per source",
)
def q_token_budget(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.sum(TX.bpe_ish_token_count(F.col("text"))).alias("bpe_ish_tokens"),
            F.sum(TX.token_count(F.col("text")).cast("long")).alias("ws_tokens"),
        )
        .orderBy("source")
    )


@_q(
    "doc_repetition_by_source",
    r"""
    WITH w AS (
      SELECT source,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS toks
      FROM documents
    ),
    tri AS (
      SELECT source,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM w
    ),
    r AS (
      SELECT source,
             CASE WHEN len(sh) > 0
                  THEN 1.0 - len(list_distinct(sh))::DOUBLE / len(sh)
                  ELSE 0.0 END AS rep
      FROM tri
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           (FLOOR(AVG(rep) * 10000 + 0.5) / 10000) AS avg_repetition,
           CAST(COUNT(CASE WHEN rep > 0.2 THEN 1 END) AS BIGINT) AS n_repetitive
    FROM r
    GROUP BY source
    ORDER BY source
    """,
    "text analysis: per-source repeated-trigram ratio — the standard "
    "LLM-corpus degeneracy signal (loops/boilerplate/keyword stuffing "
    "score high, natural prose near 0). Per-doc ratio is pure JVM "
    "expressions over the SAME shingle arrays the dedup family uses; "
    "the per-source rollup is one map-side-combined aggregate, so the "
    "filter-on-repetition corpus gate costs one scan at any scale",
)
def q_doc_repetition_by_source(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    rep = TX.repetition_ratio(F.col("text"), k=3)
    return (
        d.select("source", rep.alias("__rep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(F.avg("__rep"), 4).alias("avg_repetition"),
            F.count(F.when(F.col("__rep") > 0.2, 1)).alias("n_repetitive"),
        )
        .orderBy("source")
    )


_DUCK_STOP = (
    "['the','of','and','to','in','a','is','that','it','for',"
    "'on','with','as','was','at','by','an','be','this','are']"
)
# stopword_ratio / lang-id over a CTE exposing `text` and `ltoks`
_DUCK_STOP_RATIO = (
    "CASE WHEN len(ltoks) > 0 THEN "
    f"len(list_filter(ltoks, x -> list_contains({_DUCK_STOP}, x)))::DOUBLE / len(ltoks) "
    "ELSE 0.0 END"
)
_DUCK_LANG = f"""
    CASE WHEN length(text) = 0 THEN 'unknown'
         WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE / length(text) > 0.25 THEN 'zh'
         WHEN length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g'))::DOUBLE / length(text) > 0.25 THEN 'ru'
         WHEN length(regexp_replace(text, '[^؀-ۿ]', '', 'g'))::DOUBLE / length(text) > 0.25 THEN 'ar'
         WHEN {_DUCK_STOP_RATIO} > 0.08 THEN 'en'
         ELSE 'unknown' END
"""
# distinct lowercased word-3-gram shingles per doc, Spark-`shingles()` parity
# (including the <3-token fallback to one whole-text shingle)
_DUCK_SHINGLES_CTE = f"""
    toks AS (SELECT doc_id, {_DUCK_LTOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
      FROM toks
    ),
    p AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(s) AS sz FROM sh),
    jac AS (
      SELECT id_a, id_b, shared::DOUBLE / (sa.sz + sb.sz - shared) AS j
      FROM pair
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
    )
"""


@_q(
    "quality_scores",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, {_DUCK_LTOKS} AS ltoks
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, ltoks,
             len(toks)::DOUBLE AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                  ELSE 0.0 END AS wl,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE / length(text)
                  ELSE 0.0 END AS alpha
      FROM t
    )
    SELECT doc_id,
           {sql_round("0.4 * least(n_tokens / 20.0, 1.0) + 0.3 * alpha + 0.2 * (" + _DUCK_STOP_RATIO + ") + 0.1 * (CASE WHEN wl >= 2.0 AND wl <= 12.0 THEN 1.0 ELSE 0.0 END)", 6)} AS quality,
           {_DUCK_LANG} AS lang_guess
    FROM m ORDER BY doc_id
    """,
    "text analysis: per-document quality scoring (length/alpha/stopword "
    "heuristics) + language-ID — oracle recomputes the same heuristics "
    "from first principles in DuckDB",
)
def q_quality_scores(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("quality"),
        TX.lang_id_heuristic(F.col("text")).alias("lang_guess"),
    ).orderBy("doc_id")


@_q(
    "ngram_jaccard_pairs",
    f"""
    WITH {_DUCK_SHINGLES_CTE}
    SELECT id_a, id_b, {sql_round('j', 4)} AS jaccard
    FROM jac WHERE j >= 0.5 ORDER BY id_a, id_b
    """,
    "near-dup: EXACT all-pairs 3-gram Jaccard ≥ 0.5 via shingle inverted "
    "index (no LSH probability — any qualifying pair shares a shingle); "
    "oracle recomputes from raw text with string shingles",
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    pairs = dedup.exact_jaccard_pairs(d, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", round_half_up(F.col("jaccard"), 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


@_q(
    "source_overlap_matrix",
    f"""
    WITH toks AS (SELECT source, {_DUCK_LTOKS} AS t FROM documents),
    sh AS (
      SELECT source,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
      FROM toks
    ),
    p AS (SELECT DISTINCT source, g
          FROM (SELECT source, unnest(s) AS g FROM sh)),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM p GROUP BY source),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM p a JOIN p b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, shared,
           {sql_round('shared::DOUBLE / (sa.sz + sb.sz - shared)', 4)} AS jaccard
    FROM pair
    JOIN sz sa ON sa.source = src_a
    JOIN sz sb ON sb.source = src_b
    ORDER BY src_a, src_b
    """,
    "corpus curation: the SOURCE-level overlap audit — per source pair, "
    "the Jaccard similarity of their distinct 3-gram shingle sets (the "
    "which-crawls-duplicate-each-other matrix a 100 TB ingest runs "
    "before choosing mixture weights; source-granular sibling of the "
    "per-doc near-dup family). Scale shape: the only corpus-sized "
    "shuffles carry 8-byte hashed shingles — distinct (source, "
    "shingle-hash), then groupBy shingle collecting the bounded source "
    "set (≤ #sources, not corpus-sized); pair expansion is map-side "
    "over sorted source sets, and the final (src_a, src_b) aggregate "
    "plus the two size joins are #sources²-bounded, broadcast-joined. "
    "Oracle recomputes with string shingles and an inverted-index "
    "self-join; hashed-vs-string parity up to xxhash64 collisions "
    "(~n²/2⁶⁴), the dedup family's standard argument",
)
def q_source_overlap_matrix(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    # the family's canonical hashed-shingle construction (keyed by
    # source instead of doc_id) — one definition, shared discipline
    sh = (
        dedup.shingle_sets(d, "text", "source", 3)
        .select("source", F.explode("__sh").alias("g"))
        .distinct()
    )
    srcs = sh.groupBy("g").agg(F.array_sort(F.collect_set("source")).alias("ss"))
    # sizes derived from the SAME groupBy lineage (not a second scan of
    # documents): the shuffle-on-g exchange below it is identical in
    # both consumers, so ReuseExchange executes the corpus-sized
    # distinct+group once (asserted in tests/test_plans.py).
    sizes = (
        srcs.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    pairs = (
        srcs.where(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ss) - 1), "
                    "i -> transform(slice(ss, i + 1, size(ss) - i), "
                    "s -> struct(element_at(ss, i) AS src_a, s AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
    )
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("shared")
    )
    sz_a = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(F.broadcast(sz_a), "src_a")
        .join(F.broadcast(sz_b), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            round_half_up(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 4
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@_q(
    "knn_graph_pagerank",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {sql_round('list_cosine_similarity(a.v, b.v)', 4)} AS score
      FROM e a JOIN e b ON a.vec_id != b.vec_id
    ),
    ranked AS (SELECT src, dst,
                      ROW_NUMBER() OVER (PARTITION BY src
                                         ORDER BY score DESC, dst) AS rn
               FROM scored),
    edges AS (SELECT src, dst FROM ranked WHERE rn <= 3),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    c1 AS (SELECT e2.dst AS id, SUM(r0.r // d.d) AS sc
           FROM edges e2
           JOIN r0 ON r0.id = e2.src
           JOIN deg d ON d.id = e2.src
           GROUP BY 1),
    r1 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c1.sc, 0)) // 100 AS BIGINT) AS r
           FROM nodes n LEFT JOIN c1 ON c1.id = n.id),
    c2 AS (SELECT e2.dst AS id, SUM(r1.r // d.d) AS sc
           FROM edges e2
           JOIN r1 ON r1.id = e2.src
           JOIN deg d ON d.id = e2.src
           GROUP BY 1),
    r2 AS (SELECT n.id,
                  CAST(150000 + (85 * COALESCE(c2.sc, 0)) // 100 AS BIGINT) AS r
           FROM nodes n LEFT JOIN c2 ON c2.id = n.id)
    SELECT id AS vec_id, r AS rank_score
    FROM r2 ORDER BY rank_score DESC, vec_id LIMIT 20
    """,
    "graph centrality for data selection: two damped PageRank "
    "iterations (d=0.85) over the directed 3-NN embedding graph — the "
    "hub-detection primitive of coreset/representativeness selection "
    "(a vector many others call 'nearest' is a density hub; the "
    "engine's output is the top-20 hubs). All arithmetic is "
    "INTEGER-EXACT (the LM gate's milli-prob discipline applied to "
    "graph propagation): start at 10^6, propagate r//out_deg, damp as "
    "150000 + (85*sum)//100 — integer sums are order-independent, so "
    "cross-engine float drift cannot exist; the only float is the "
    "edge-construction cosine, handled with the kNN family's "
    "round-before-rank discipline. Scale shape: edges come from the "
    "SRP bucket join (id-only candidate shuffles, NO corpus-sized "
    "broadcast — the self-kNN join-back is a plain 8-byte-id "
    "equi-join via lsh_scores(broadcast_query_vectors=False)); each "
    "iteration is one edge-keyed join + one node-keyed aggregate, "
    "O(E) per step with a constant iteration count — the "
    "connected-components shuffle discipline. The oracle rebuilds "
    "the exact 3-NN graph all-pairs, which doubles as a full-corpus "
    "recall proof of the LSH recipe at these settings",
)
def q_knn_graph_pagerank(spark, sf_dir):
    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    scored = similarity.lsh_scores(
        e, e, n_bits=2, n_tables=24, broadcast_query_vectors=False
    )
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    # localCheckpoint (the connected-components discipline) pins the
    # edge-sized graph on executors: the corpus-sized LSH candidate
    # build + top-3 rank run exactly ONCE, and every downstream
    # consumer (nodes, degrees, both propagation steps) reads the
    # materialized edges instead of replaying the construction
    edges = (
        top_k_per_group(rounded, ["query_id"], "score", 3, tiebreakers=["neighbor_id"])
        .select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint()
    )
    nodes = edges.select(F.col("src").alias("id")).distinct().localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # (src, dst, out-degree) built once, reused by both unrolled steps
    out_edges = edges.join(
        deg.select(F.col("id").alias("src"), "d"), "src"
    ).localCheckpoint()
    r = nodes.select("id", F.lit(1_000_000).cast("long").alias("r"))
    for _ in range(2):
        contrib = out_edges.join(
            r.select(F.col("id").alias("src"), "r"), "src"
        ).select(F.col("dst").alias("id"), F.expr("div(r, d)").alias("c"))
        summed = contrib.groupBy("id").agg(F.sum("c").alias("sc"))
        r = nodes.join(summed, "id", "left").select(
            "id",
            (
                F.lit(150000).cast("long")
                + F.expr("div(85 * coalesce(sc, 0L), 100)")
            ).alias("r"),
        )
    return (
        r.select(F.col("id").alias("vec_id"), F.col("r").alias("rank_score"))
        .orderBy(F.desc("rank_score"), "vec_id")
        .limit(20)
    )


@_q(
    "lm_fluency_by_source",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_LTOKS} AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, source, toks, len(toks) AS n
      FROM t WHERE len(toks) >= 2
    ),
    bg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, n),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b
      FROM e
    ),
    cb AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b),
    cu AS (
      SELECT b, cb,
             SUM(cb) OVER (PARTITION BY split_part(b, ' ', 1)) AS cu
      FROM cb
    ),
    sc AS (
      SELECT doc_id, source,
             SUM((1000 * cb) // cu) AS sm,
             COUNT(*) AS nb
      FROM bg JOIN cu USING (b)
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS scored_docs,
           CAST(SUM(CASE WHEN sm < 33 * nb THEN 1 ELSE 0 END) AS BIGINT) AS low_fluency_docs,
           {sql_round('AVG(sm / (1000.0 * nb))', 6)} AS avg_fluency
    FROM sc GROUP BY source ORDER BY source
    """,
    "bigram language-model fluency gate (the KenLM/CCNet 'does this "
    "read like the corpus' filter) self-trained on the corpus in the "
    "SAME job with zero Python: one groupBy trains the bigram counts, "
    "a window sum over the (vocabulary-sized) count table derives the "
    "history mass, and each doc's bigrams score the exact integer "
    "milli-probability floor(1000·cb/cu) of P(w2|w1) through a hash "
    "equi-join — no float log-prob, so the score is bit-identical "
    "cross-engine; low-fluency docs threshold by integer "
    "cross-multiplication (threshold 33 milli = just under the corpus "
    "median ~34, measured at both driver SFs, so the gate splits "
    "non-trivially). Production swaps in a pre-trained count table "
    "through the identical scoring plan",
)
def q_lm_fluency_by_source(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    scored = corpus.score_bigram_lm(d, carry_cols=["source"])
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("scored_docs"),
            F.sum(
                (F.col("lm_milli_sum") < 33 * F.col("n_bigrams"))
                .cast("long")
            ).alias("low_fluency_docs"),
            round_half_up(F.avg("fluency"), 6).alias("avg_fluency"),
        )
        .orderBy("source")
    )


@_q(
    "perplexity_bucket_mix",
    f"""
    WITH t AS (
      SELECT doc_id, source, lang, {_DUCK_LTOKS} AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, source, lang, toks, len(toks) AS n
      FROM t WHERE len(toks) >= 2
    ),
    bg AS (
      SELECT doc_id, source, lang,
             unnest(list_transform(range(1, n),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b
      FROM e
    ),
    cb AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b),
    cu AS (
      SELECT b, cb,
             SUM(cb) OVER (PARTITION BY split_part(b, ' ', 1)) AS cu
      FROM cb
    ),
    sc AS (
      SELECT doc_id, source, lang,
             SUM((1000 * cb) // cu) AS sm,
             COUNT(*) AS nb
      FROM bg JOIN cu USING (b)
      GROUP BY doc_id, source, lang
    ),
    bk AS (
      SELECT lang, source, sm / (1000.0 * nb) AS fl,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY sm / (1000.0 * nb) DESC, doc_id) AS t
      FROM sc
    )
    SELECT lang, source,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_round('AVG(fl)', 6)} AS avg_fluency
    FROM bk GROUP BY lang, source, t ORDER BY lang, source, bucket
    """,
    "CCNet-shape perplexity bucketing (Wenzek et al. 2020): per "
    "LANGUAGE, rank docs by the self-trained bigram-LM fluency and "
    "NTILE(3) into head/middle/tail, then report each source's mix "
    "across the buckets — the stage between the fluency gate (score) "
    "and the mixing ops (sample): CCNet keeps head+middle and drops or "
    "downweights tail. Partitioned by lang exactly as CCNet is, so the "
    "global-sort-free window parallelizes at corpus scale; ranking "
    "ties are engine-deterministic (identical int64-derived doubles, "
    "doc_id tiebreak). Oracle retrains the LM and recomputes the "
    "tiling from raw text",
)
def q_perplexity_bucket_mix(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    scored = corpus.score_bigram_lm(d, carry_cols=["source", "lang"])
    w = Window.partitionBy("lang").orderBy(F.desc("fluency"), F.asc("doc_id"))
    b = scored.withColumn("t", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("t") == 1, "head")
        .when(F.col("t") == 2, "middle")
        .otherwise("tail")
    )
    return (
        b.select("lang", "source", bucket.alias("bucket"), "fluency")
        .groupBy("lang", "source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(F.avg("fluency"), 6).alias("avg_fluency"),
        )
        .orderBy("lang", "source", "bucket")
    )


@_q(
    "dsir_selection_by_source",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_LTOKS} AS toks FROM documents
    ),
    e AS (SELECT doc_id, source, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
    bb AS (
      SELECT doc_id, source,
             {TX.sql_portable_hash60("(bg || ':dsir')")} % 4096 AS bucket
      FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(1, n),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM e
      )
    ),
    p AS (SELECT bucket, COUNT(*)::BIGINT AS p_cnt FROM bb
          WHERE source = 'src0' GROUP BY bucket),
    q AS (SELECT bucket, COUNT(*)::BIGINT AS q_cnt FROM bb
          WHERE source <> 'src0' GROUP BY bucket),
    tot AS (SELECT (SELECT COALESCE(SUM(p_cnt), 0) FROM p) AS p_tot,
                   (SELECT COALESCE(SUM(q_cnt), 0) FROM q) AS q_tot),
    w AS (
      -- numerator clamped at den*cap before the floor division (cap =
      -- scale*1e6), mirroring the engine's overflow-safe form exactly
      SELECT s.bucket,
             CAST(LEAST(
                    1000000::HUGEINT * (COALESCE(p.p_cnt, 0) + 1) * (tot.q_tot + 4096),
                    ((COALESCE(q.q_cnt, 0) + 1)::HUGEINT * (tot.p_tot + 4096))
                      * 1000000::HUGEINT * 1000000)
                  // ((COALESCE(q.q_cnt, 0) + 1)::HUGEINT * (tot.p_tot + 4096))
                  AS BIGINT) AS w
      FROM (SELECT unnest(range(4096)) AS bucket) s
      LEFT JOIN p ON p.bucket = s.bucket
      LEFT JOIN q ON q.bucket = s.bucket
      CROSS JOIN tot
    ),
    doc AS (
      SELECT bb.doc_id, bb.source,
             SUM(w.w) AS milli_sum, COUNT(*) AS nb
      FROM bb JOIN w ON w.bucket = bb.bucket
      WHERE bb.source <> 'src0'
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_scored,
           CAST(SUM(CASE WHEN milli_sum > 450000 * nb THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_selected,
           CAST(SUM(milli_sum) AS BIGINT) AS milli_total,
           CAST(SUM(nb) AS BIGINT) AS bigrams_total
    FROM doc GROUP BY source ORDER BY source
    """,
    "DSIR-shape data selection (Xie et al. 2023 importance resampling): "
    "raw (non-src0) docs scored by the hashed-bigram importance ratio "
    "between the src0 TARGET distribution and the raw distribution — "
    "add-1-smoothed per-bucket ratios, scaled/floored to integers in "
    "DECIMAL(38,0) so the per-doc sums are bit-exact cross-engine (no "
    "transcendental log); selected = mean milli-ratio > 450000, just "
    "under the corpus median ~455-461k measured at both driver SFs so "
    "the gate splits non-trivially (the default mean-ratio>1 never "
    "fires when raw is 19x the target); per-source selection counts + "
    "exact integer score totals",
)
def q_dsir_selection_by_source(spark, sf_dir):
    # barrier=False: heavy per-row work here is shingle/token
    # PROJECTION (never pushed below the exchange); the next op is a
    # cheap filter that belongs at the scan. Interleaved A/B (5 reps,
    # sf0.1): the barrier costs this shape 3-7% and buys nothing.
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    target = d.filter(F.col("source") == "src0")
    raw = d.filter(F.col("source") != "src0")
    scored = corpus.dsir_importance(
        raw, target, carry_cols=["source"], select_milli=450_000
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_scored"),
            F.sum(F.col("selected").cast("long")).alias("docs_selected"),
            F.sum("dsir_milli_sum").alias("milli_total"),
            F.sum("n_bigrams").alias("bigrams_total"),
        )
        .orderBy("source")
    )


@_q(
    "training_shard_manifest",
    f"""
    WITH k AS (
      SELECT doc_id,
             len({_DUCK_TOKS}) AS nt,
             {TX.sql_portable_hash60("(doc_id::VARCHAR || ':42')")} AS key
      FROM documents
    ),
    s AS (SELECT doc_id, nt, key, key % 8 AS shard FROM k),
    r AS (
      SELECT shard, nt, key,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY key, doc_id) AS rn
      FROM s
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM((rn * (key % 1000003)) % 1000003) % 1000003 AS BIGINT) AS order_checksum
    FROM r GROUP BY shard ORDER BY shard
    """,
    "deterministic global corpus shuffle + sharding (the training-run "
    "data-order contract): every doc gets a reproducible pseudo-random "
    "key (md5-portable hash of id:salt — partition-layout independent, "
    "unlike rand() or monotonically_increasing_id) and shard = key mod "
    "8; the manifest's ORDER-SENSITIVE checksum (sum of rank-in-shard "
    "x key residue, reduced mod the prime per term AND on the sum so "
    "it cannot overflow int64 at any shard size — Spark would wrap "
    "silently where the oracle errors) must match the oracle, proving "
    "the exact within-shard training order — not just the membership "
    "— is engine-reproducible. At scale the writer repartitions by "
    "shard and sorts within partitions: one shuffle, no global sort",
)
def q_training_shard_manifest(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    sharded = corpus.shard_corpus(d, n_shards=8, salt="42").select(
        "doc_id",
        "shard",
        "__shuffle_key",
        TX.token_count(F.col("text")).alias("__nt"),
    )
    w = Window.partitionBy("shard").orderBy("__shuffle_key", "doc_id")
    ranked = sharded.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("total_tokens"),
            F.pmod(
                F.sum(
                    F.pmod(
                        F.col("__rn")
                        * F.pmod(F.col("__shuffle_key"), F.lit(1000003)),
                        F.lit(1000003),
                    )
                ),
                F.lit(1000003),
            ).alias("order_checksum"),
        )
        .orderBy("shard")
    )


@_q(
    "duplicate_span_stats",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_LTOKS} AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, source, toks, len(toks) AS n
      FROM t WHERE len(toks) >= 15
    ),
    wpos AS (
      SELECT doc_id, toks, unnest(range(0, n - 15 + 1)) AS pos FROM e
    ),
    g AS (
      SELECT doc_id, pos,
             {TX.sql_portable_hash60("array_to_string(list_slice(toks, pos+1, pos+15), ' ')")} AS h
      FROM wpos
    ),
    d AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM g
    ),
    occ AS (SELECT doc_id, pos AS s, pos + 15 AS e FROM d WHERE rn >= 2),
    pm AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
      FROM occ
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN s > coalesce(prev_e, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM pm
    ),
    merged AS (
      SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(span_end - span_start) AS dup_toks
      FROM merged GROUP BY doc_id
    )
    SELECT e.source,
           CAST(COUNT(*) AS BIGINT) AS docs_scanned,
           CAST(COUNT(p.n_spans) AS BIGINT) AS dup_docs,
           CAST(SUM(COALESCE(p.n_spans, 0)) AS BIGINT) AS dup_spans,
           CAST(SUM(COALESCE(p.dup_toks, 0)) AS BIGINT) AS dup_tokens,
           {sql_round("SUM(COALESCE(p.dup_toks, 0))::DOUBLE / SUM(e.n)", 6)} AS dup_token_ratio
    FROM e LEFT JOIN per_doc p USING (doc_id)
    GROUP BY e.source ORDER BY e.source
    """,
    "exact duplicate-span detection (the ExactSubstr dedup shape, Lee "
    "et al. ACL 2022): every 15-token window occurring more than once "
    "in the corpus is duplicated everywhere except its global first "
    "occurrence; overlapping/adjacent duplicated windows merge into "
    "maximal spans per doc (gaps-and-islands windows), reported as "
    "per-source removable-token stats. The suffix array of the paper "
    "is single-machine; rolling window hashes + interval merge is the "
    "distributed re-expression — candidate generation is an 8-byte "
    "hash join, never a cross join, and the oracle recomputes spans "
    "from raw text with the md5-portable hash (collisions included)",
)
def q_duplicate_span_stats(spark, sf_dir):
    # fan_out A/B (r8, interleaved medians at sf0.1 single-file
    # layout): 4.95 -> 2.25 s — the per-window md5 is heavy per-row
    # work before the first shuffle, so the starved-scan guard wins
    # decisively; no-op on multi-file layouts (the scale campaign's
    # synthesized dirs)
    # barrier=False: heavy per-row work here is shingle/token
    # PROJECTION (never pushed below the exchange); the next op is a
    # cheap filter that belongs at the scan. Interleaved A/B (5 reps,
    # sf0.1): the barrier costs this shape 3-7% and buys nothing.
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    spans = dedup.duplicate_spans(d, span_tokens=15)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_toks"),
    )
    eligible = d.select(
        "doc_id", "source", TX.token_count(F.col("text")).alias("__nt")
    ).filter(F.col("__nt") >= 15)
    return (
        eligible.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_scanned"),
            F.count(F.col("n_spans")).alias("dup_docs"),
            F.sum(F.coalesce(F.col("n_spans"), F.lit(0))).alias("dup_spans"),
            F.sum(F.coalesce(F.col("dup_toks"), F.lit(0))).alias("dup_tokens"),
            round_half_up(
                F.sum(F.coalesce(F.col("dup_toks"), F.lit(0)))
                / F.sum("__nt"),
                6,
            ).alias("dup_token_ratio"),
        )
        .orderBy("source")
    )


@_q(
    "span_removal_stats",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_LTOKS} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    e AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 15
    ),
    wpos AS (
      SELECT doc_id, toks, unnest(range(0, n - 15 + 1)) AS pos FROM e
    ),
    g AS (
      SELECT doc_id, pos,
             {TX.sql_portable_hash60("array_to_string(list_slice(toks, pos+1, pos+15), ' ')")} AS h
      FROM wpos
    ),
    d AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM g
    ),
    occ AS (SELECT doc_id, pos AS s, pos + 15 AS e FROM d WHERE rn >= 2),
    pm AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
      FROM occ
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN s > coalesce(prev_e, -1) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM pm
    ),
    merged AS (
      SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
      FROM isl GROUP BY doc_id, island
    ),
    dup_pos AS (
      SELECT doc_id, unnest(range(span_start, span_end)) AS pos
      FROM merged
    ),
    tokpos AS (
      SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM t
    ),
    tok AS (
      SELECT doc_id, toks[pos + 1] AS tok, pos FROM tokpos
    ),
    kept AS (
      SELECT k.doc_id, k.tok, k.pos
      FROM tok k LEFT JOIN dup_pos dp
        ON dp.doc_id = k.doc_id AND dp.pos = k.pos
      WHERE dp.doc_id IS NULL
    ),
    clean AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             COUNT(*) AS n_after
      FROM kept GROUP BY doc_id
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN COALESCE(c.n_after, 0) < len(t.toks)
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_cleaned,
           CAST(SUM(len(t.toks)) AS BIGINT) AS tokens_before,
           CAST(SUM(COALESCE(c.n_after, 0)) AS BIGINT) AS tokens_after,
           CAST(SUM({TX.sql_portable_hash60("COALESCE(c.clean_text, '')")} % 1000003) AS BIGINT) AS clean_checksum
    FROM t LEFT JOIN clean c USING (doc_id)
    GROUP BY t.source ORDER BY t.source
    """,
    "the ExactSubstr TRANSFORMATION (companion to duplicate_span_stats"
    " diagnostics): every duplicated 15-token span is removed from the"
    " normalized token stream (global first occurrence kept), docs"
    " reconstructed, and the per-source checksum of the CLEANED TEXT"
    " ITSELF must match the oracle's — a far stronger contract than"
    " matching counts, since any off-by-one in span boundaries,"
    " interval merging, or token order changes the checksum. Removal"
    " cost is O(duplicated tokens): the anti-join explodes only the"
    " merged spans, never the corpus",
)
def q_span_removal_stats(spark, sf_dir):
    # barrier=False: heavy per-row work here is shingle/token
    # PROJECTION (never pushed below the exchange); the next op is a
    # cheap filter that belongs at the scan. Interleaved A/B (5 reps,
    # sf0.1): the barrier costs this shape 3-7% and buys nothing.
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    cleaned = dedup.remove_duplicate_spans(d, span_tokens=15)
    src = d.filter(F.col("text").isNotNull()).select("doc_id", "source")
    return (
        src.join(cleaned, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(
                (F.col("n_tokens_after") < F.col("n_tokens_before"))
                .cast("long")
            ).alias("docs_cleaned"),
            F.sum("n_tokens_before").alias("tokens_before"),
            F.sum("n_tokens_after").alias("tokens_after"),
            F.sum(
                F.pmod(TX.portable_hash60(F.col("clean_text")), F.lit(1000003))
            ).alias("clean_checksum"),
        )
        .orderBy("source")
    )


@_q(
    "simhash_near_dups",
    f"""
    WITH tk AS (
      SELECT doc_id, unnest({_DUCK_LTOKS}) AS tok FROM documents
    ),
    hv AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT AS h FROM tk),
    v AS (
      SELECT doc_id, b, SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      FROM hv CROSS JOIN (SELECT unnest(range(60)) AS b)
      GROUP BY doc_id, b
    ),
    sim0 AS (
      SELECT doc_id,
             SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS sim
      FROM v GROUP BY doc_id
    ),
    sim AS (
      SELECT d.doc_id, COALESCE(s.sim, 0) AS sim
      FROM documents d LEFT JOIN sim0 s ON s.doc_id = d.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sim, b.sim))::INTEGER AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    ORDER BY id_a, id_b
    """,
    "near-dup: SimHash fingerprints (60-bit md5-portable token hash), "
    "4×15-bit pigeonhole banding — EXACT recall at Hamming ≤ 3; oracle "
    "recomputes the identical fingerprint per doc and checks all pairs",
)
def q_simhash_near_dups(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    out = dedup.simhash_near_dups(d, max_hamming=3, portable=True)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


@_q(
    "minhash_dedup_count",
    f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (SELECT DISTINCT id_b FROM jac WHERE j >= 0.7)
    SELECT (SELECT COUNT(*) FROM documents) AS before,
           (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM dups) AS after
    """,
    "near-dup end-to-end: corpus size before/after MinHash dedup at "
    "Jaccard ≥ 0.7. 32 hashes × 16 bands (r=2) put per-pair miss at "
    "(1−0.49)^16 ≈ 2e-5 for J=0.7 — verified to agree exactly with the "
    "oracle's inverted-index ground truth on this corpus (sf0.001 and "
    "sf0.01), at half the hashing cost of a 64-hash signature",
)
def q_minhash_dedup_count(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    kept = dedup.dedup_minhash(d, threshold=0.7, num_hashes=32, bands=16)
    return d.agg(F.count(F.lit(1)).alias("before")).crossJoin(
        kept.agg(F.count(F.lit(1)).alias("after"))
    )


@_q(
    "salted_agg_order_totals",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_round('SUM(o_totalprice)', 2)} AS total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "skew hardening driver-checked: two-level salted aggregation "
    "(groupBy(key, salt) partials → groupBy(key) combine — the manual "
    "guard for hot groupBy keys where one reducer would bottleneck) "
    "must produce exactly the plain GROUP BY the oracle runs. Float "
    "caveat: partial sums are combined in a different order than a "
    "direct sum, so the checked aggregate rounds at 2 decimals, inside "
    "the error of reordered double addition at this magnitude",
)
def q_salted_agg_order_totals(spark, sf_dir):
    from airline_data_pipeline_spark.operators.skew import salted_agg

    o = table(spark, sf_dir, "orders")
    out = salted_agg(
        o.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "total": (F.sum("o_totalprice"), F.sum("total")),
        },
        num_salts=16,
    )
    return out.select(
        "o_orderpriority",
        "n",
        round_half_up(F.col("total"), 2).alias("total"),
    ).orderBy("o_orderpriority")


@_q(
    "local_supplier_volume",
    f"""
    SELECT n.n_name AS nation,
           {sql_round('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1994-01-01'
      AND o.o_orderdate < DATE '1996-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    "Q5 shape: 6-table join cycle (customer and supplier must share a "
    "nation — the join graph has a cycle Catalyst must plan around); "
    "dims broadcast, the fact shuffles once on orderkey",
)
def q_local_supplier_volume(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1994-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@_q(
    "volume_shipping_pairs",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           {sql_round('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_15' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_15'))
      AND l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    GROUP BY sn.n_name, cn.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "Q7 shape: nation-pair trade volume — the same dimension joined "
    "twice under different roles with a symmetric-pair disjunction; "
    "per-year rollup. Pair chosen as NATION_15/NATION_19 because the "
    "driver's synthetic nation names are NATION_N (TPC-H's FRANCE/"
    "GERMANY matched nothing, making the r4 driver row a vacuous 0=0); "
    "both trade directions verified non-empty at sf0.001 and sf0.01",
)
def q_volume_shipping_pairs(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31 23:59:59")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(sn), F.col("sn_key") == s.s_nationkey)
        .join(F.broadcast(cn), F.col("cn_key") == c.c_nationkey)
        .filter(
            ((F.col("supp_nation") == "NATION_15") & (F.col("cust_nation") == "NATION_19"))
            | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_15"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_q(
    "customer_order_distribution",
    """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
    "Q13 shape: order-count histogram — a left join preserving "
    "zero-order customers, then a second aggregation over the first's "
    "result (count-of-counts)",
)
def q_customer_order_distribution(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@_q(
    "small_quantity_revenue",
    f"""
    SELECT {sql_round('SUM(l.l_extendedprice) / 7.0', 2)} AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    "Q17 shape: correlated per-part average threshold (decorrelates to "
    "an aggregate + join on partkey) gating a revenue sum",
)
def q_small_quantity_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .join(thresholds, F.col("t_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(round_half_up(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@_q(
    "disjunctive_predicate_revenue",
    f"""
    SELECT {sql_round('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "Q19 shape: OR-of-ANDs spanning both join sides — the common "
    "conjuncts must still push to the scans while the residual "
    "disjunction evaluates post-join",
)
def q_disjunctive_predicate_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(
        round_half_up(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@_q(
    "sentence_split_udtf",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(30), 'g'), chr(30)),
                 x -> trim(x)),
               x -> x != '') AS sents
      FROM documents
    ),
    x AS (
      SELECT doc_id,
             unnest(list_transform(sents, (v, i) -> {'pos': i - 1, 'sentence': v})) AS u
      FROM s
    )
    SELECT doc_id, u['pos']::INT AS pos, u['sentence'] AS sentence
    FROM x ORDER BY doc_id, pos
    """,
    "U3 table-function surface: sentence segmentation as a Python UDTF "
    "composed through a SQL LATERAL join (one doc row → many sentence "
    "rows). The oracle expresses the same boundary relation (whitespace "
    "after [.!?]) via capture-group replace + split, since RE2 lacks "
    "the lookbehind Python uses",
)
def q_sentence_split_udtf(spark, sf_dir):
    from airline_data_pipeline_spark.functions.udtfs import register_udtfs
    from airline_data_pipeline_spark.io.readers import load_testdata

    load_testdata(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence
        FROM documents d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.pos
        """
    )


@_q(
    "udtf_dynamic_json_fields",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS distinct_k,
           CAST(COUNT(missing) AS BIGINT) AS n_with_missing,
           MIN(k) AS min_k_text
    FROM (
      SELECT event_type,
             json_extract_string(props, '$.k') AS k,
             json_extract_string(props, '$.missing') AS missing
      FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    "U3 POLYMORPHIC table function: json_fields(props, 'k,missing') "
    "computes its output schema at ANALYSIS time from the constant "
    "field-list argument (UDTF analyze()) — schema-on-demand JSON "
    "shredding where each call site gets exactly the columns it asked "
    "for, resolved and pruned by Catalyst like any relation. Absent "
    "paths come back NULL; values arrive as JSON text, matching the "
    "oracle's json_extract_string",
)
def q_udtf_dynamic_json_fields(spark, sf_dir):
    from airline_data_pipeline_spark.functions.udtfs import register_udtfs
    from airline_data_pipeline_spark.io.readers import load_testdata

    load_testdata(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT e.event_type,
               COUNT(*) AS n,
               COUNT(f.k) AS n_with_k,
               COUNT(DISTINCT f.k) AS distinct_k,
               COUNT(f.missing) AS n_with_missing,
               MIN(f.k) AS min_k_text
        FROM events e, LATERAL json_fields(e.props, 'k,missing') f
        GROUP BY e.event_type
        ORDER BY e.event_type
        """
    )


@_q(
    "ngram_udtf_top_trigrams",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
      FROM documents
    ),
    x AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngram
      FROM t WHERE len(toks) >= 3
    )
    SELECT ngram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM x
    GROUP BY ngram
    ORDER BY n DESC, ngram
    LIMIT 20
    """,
    "U3 table-function surface #2: word-trigram generation as a Python "
    "UDTF composed through LATERAL, aggregated to the corpus's top-20 "
    "trigrams (the phrase-mining / contamination-check primitive). "
    "Plan: UDTF fan-out → one shuffle on the ngram key → TakeOrdered; "
    "the oracle regenerates the same trigrams with list_transform over "
    "the shared whitespace-token definition",
)
def q_ngram_udtf_top_trigrams(spark, sf_dir):
    from airline_data_pipeline_spark.functions.udtfs import register_udtfs
    from airline_data_pipeline_spark.io.readers import load_testdata

    load_testdata(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT g.ngram, COUNT(*) AS n, COUNT(DISTINCT d.doc_id) AS n_docs
        FROM documents d, LATERAL token_ngrams(d.text, 3) g
        GROUP BY g.ngram
        ORDER BY n DESC, g.ngram
        LIMIT 20
        """
    )


@_q(
    "weather_enrichment_join",
    """
    SELECT CASE CAST(o_custkey % 5 AS INT)
             WHEN 0 THEN 'Clear' WHEN 1 THEN 'Rain' WHEN 2 THEN 'Snow'
             WHEN 3 THEN 'Fog' ELSE 'Windy' END AS conditions,
           COUNT(*) AS n_flights,
           CAST(MIN(5 + 3 * CAST(o_custkey % 5 AS INT)) AS BIGINT) AS temperature
    FROM orders
    GROUP BY 1
    ORDER BY conditions
    """,
    "S2+J1 driver-checked: the reference's weather JSON document "
    "(ingest.py:97-100 structure validation; the flights⋈weather "
    "enrichment is its declared To-Do) written to scratch, scanned "
    "through the declared-schema multiLine JSON reader + explode "
    "(io/readers.py::read_weather_json), then BROADCAST-joined against "
    "an orders-derived flights table on the station key — the J1 dim "
    "join shape. Aggregate of the enriched rows must equal the oracle "
    "recomputing the station attributes arithmetically",
)
def q_weather_enrichment_join(spark, sf_dir):
    import json
    import os
    import tempfile

    from airline_data_pipeline_spark.io.readers import read_weather_json

    conditions = ["Clear", "Rain", "Snow", "Fog", "Windy"]
    doc = {
        "stations": [
            {"id": f"st{i}", "temperature": 5 + 3 * i, "conditions": conditions[i]}
            for i in range(5)
        ]
    }
    root = tempfile.mkdtemp(prefix="spark_graft_weather_")
    with open(os.path.join(root, "weather.json"), "w") as f:
        json.dump(doc, f)
    weather = read_weather_json(spark, root)
    flights = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(F.lit("st"), F.pmod("o_custkey", F.lit(5)).cast("int")).alias(
            "origin_station"
        ),
    )
    enriched = flights.join(
        F.broadcast(weather),
        flights["origin_station"] == weather["station_id"],
    )
    out = (
        enriched.groupBy("conditions")
        .agg(
            F.count(F.lit(1)).alias("n_flights"),
            F.min("temperature").alias("temperature"),
        )
        .orderBy("conditions")
    )
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "remote_landing_source",
    """
    SELECT * FROM (VALUES
      ('1/1/2024 12:00:00 AM', 'AA', '100', 'JFK', 'LAX', '900', '905.0', '1200', '1158.0'),
      ('1/1/2024 12:00:00 AM', 'DL', '200', 'sfo', 'ord', '1000', NULL, '1300', NULL)
    ) AS t(FL_DATE, OP_CARRIER, OP_CARRIER_FL_NUM, ORIGIN, DEST,
           CRS_DEP_TIME, DEP_TIME, CRS_ARR_TIME, ARR_TIME)
    ORDER BY OP_CARRIER
    """,
    "S3 as a first-class Spark source: the remote-landing step exposed "
    "through the PySpark Python Data Source API — one input partition "
    "per remote file, fetch+parse on executors, header-name binding "
    "with empty→null. The oracle is the mock remote fixture itself "
    "(the landing contract's spec, mirroring the reference's mock SFTP "
    "server fixture)",
)
def q_remote_landing_source(spark, sf_dir):
    from airline_data_pipeline_spark.io.datasource import RemoteLandingDataSource

    spark.dataSource.register(RemoteLandingDataSource)
    return spark.read.format("remote_landing").load().orderBy("OP_CARRIER")


@_q(
    "remote_landing_stream",
    """
    SELECT * FROM (VALUES
      ('1/1/2024 12:00:00 AM', 'AA', '100', 'JFK', 'LAX', '900', '905.0', '1200', '1158.0'),
      ('1/1/2024 12:00:00 AM', 'DL', '200', 'sfo', 'ord', '1000', NULL, '1300', NULL)
    ) AS t(FL_DATE, OP_CARRIER, OP_CARRIER_FL_NUM, ORIGIN, DEST,
           CRS_DEP_TIME, DEP_TIME, CRS_ARR_TIME, ARR_TIME)
    ORDER BY OP_CARRIER
    """,
    "S3 streaming: the remote-landing Python Data Source's micro-batch "
    "reader — the offset is the consumed-file list, each batch ingests "
    "every not-yet-processed remote CSV, and checkpoint replay re-reads "
    "exactly the files a batch covered. Drained through a memory sink; "
    "must equal the fixture the batch source reads",
)
def q_remote_landing_stream(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.io.datasource import RemoteLandingDataSource
    from airline_data_pipeline_spark.streaming.events import run_available_now

    spark.dataSource.register(RemoteLandingDataSource)
    stream = spark.readStream.format("remote_landing").load()
    name = "landing_stream_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    run_available_now(stream, name, output_mode="append", checkpoint_dir=ckpt)
    out = spark.table(name).orderBy("OP_CARRIER")
    return _localized(spark, out, drop_view=name, scratch_dirs=(ckpt,))


@_q(
    "validation_profile_orders",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                          AND o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
    FROM orders
    """,
    "P10/U2 driver-checked: the engine's one-pass validation aggregate "
    "(every null/range/allowed-set constraint compiled into a single "
    "agg job — never one job per check) returns its profile row, which "
    "must equal the oracle's independent SQL aggregates",
)
def q_validation_profile_orders(spark, sf_dir):
    from airline_data_pipeline_spark.operators.validation import validation_profile

    o = table(spark, sf_dir, "orders")
    prof = validation_profile(
        o,
        not_null=["o_custkey"],
        value_range={"o_totalprice": (0.0, 1e9)},
        allowed_values={"o_orderstatus": ["F", "O", "P"]},
    )
    return prof.select(
        F.col("__n").alias("n_rows"),
        F.col("__null__o_custkey").alias("null_custkey"),
        F.col("__min__o_totalprice").alias("min_price"),
        F.col("__max__o_totalprice").alias("max_price"),
        F.col("__bad__o_orderstatus").alias("bad_status"),
    )


@_q(
    "csv_roundtrip_export",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey <= 1000
    ORDER BY l_orderkey, l_linenumber
    """,
    "S1+S4 driver-checked: a lineitem slice is written through the CSV "
    "sink and read back through the declared-schema CSV scan (header "
    "name-binding, no inference); the round-trip must reproduce the "
    "parquet-derived rows the oracle reads. Doubles survive because "
    "Spark's CSV writer emits shortest-roundtrip decimal reprs",
)
def q_csv_roundtrip_export(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from airline_data_pipeline_spark.io.readers import read_flights_csv
    from airline_data_pipeline_spark.io.writers import write_csv_export

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity", "l_extendedprice",
        )
    )
    path = tempfile.mkdtemp(prefix="spark_graft_csv_export_")
    write_csv_export(li, path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    back = read_flights_csv(spark, path, schema=schema)
    out = back.orderBy("l_orderkey", "l_linenumber")
    return _localized(spark, out, scratch_dirs=(path,))


@_q(
    "orc_roundtrip_export",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey <= 500
    ORDER BY l_orderkey, l_linenumber
    """,
    "S4 variant: ORC sink + scan round-trip — the columnar interchange "
    "format for Hive/Trino-side warehouses (built into Spark, same "
    "pushdown/pruning story as parquet); schema and values survive "
    "natively, no string re-parse involved",
)
def q_orc_roundtrip_export(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.io.writers import write_orc

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 500)
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity", "l_extendedprice",
        )
    )
    root = tempfile.mkdtemp(prefix="spark_graft_orc_export_")
    path = root + "/data"
    write_orc(li, path)
    out = spark.read.orc(path).orderBy("l_orderkey", "l_linenumber")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "xml_roundtrip_export",
    """
    SELECT l_orderkey, l_linenumber,
           l_returnflag || '<&>"' || l_linestatus AS flag_markup,
           l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey <= 750
    ORDER BY l_orderkey, l_linenumber
    """,
    "S1/S4 sibling driver-checked: XML sink + declared-schema XML scan "
    "round-trip (built into Spark 4, SPARK-44265 — the regulatory/B2B "
    "feed format the reference's CSV exports stand in for). The "
    "flag_markup column deliberately embeds every markup-significant "
    "character (< & > \") so the writer's entity escaping and the "
    "parser's un-escaping are what the oracle equality actually proves "
    "— a column the escaper mangles would hash-mismatch",
)
def q_xml_roundtrip_export(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from airline_data_pipeline_spark.io.readers import read_xml
    from airline_data_pipeline_spark.io.writers import write_xml_export

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 750)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.concat(
                F.col("l_returnflag"), F.lit('<&>"'), F.col("l_linestatus")
            ).alias("flag_markup"),
            "l_quantity",
            "l_extendedprice",
        )
    )
    root = tempfile.mkdtemp(prefix="spark_graft_xml_export_")
    path = root + "/data"
    write_xml_export(li, path, row_tag="line", root_tag="lines")
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("flag_markup", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    back = read_xml(spark, path, schema, row_tag="line")
    out = back.select(*[f.name for f in schema.fields]).orderBy(
        "l_orderkey", "l_linenumber"
    )
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "binary_media_landing_stats",
    """
    SELECT source || '.bin' AS file_name,
           CAST(octet_length(encode(string_agg(text, chr(10) ORDER BY doc_id))) AS BIGINT) AS n_bytes,
           sha256(string_agg(text, chr(10) ORDER BY doc_id)) AS sha256
    FROM documents
    GROUP BY source
    ORDER BY file_name
    """,
    "S-row for BOTH multimodal blob sides (§2.10): per-source "
    "concatenations of the documents table leave the engine as real "
    "files through the `binary_files` Python Data Source SINK (one "
    "blob per row, staged + 2PC-committed, executor-side — Spark has "
    "no built-in binary write path), then land back through Spark's "
    "binaryFile SOURCE — (path, length, content) rows, one file per "
    "task, pathGlobFilter pruning — and are fingerprinted with "
    "sha2(content)/length, the first stage of any media-corpus dedup. "
    "The oracle independently recomputes each file's byte length and "
    "sha256 from the raw table, so the equality proves the bytes "
    "survived the full export→ingest loop untouched",
)
def q_binary_media_landing_stats(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.io.datasource import BinaryFilesDataSource
    from airline_data_pipeline_spark.io.readers import read_binary_files

    docs = table(spark, sf_dir, "documents")
    # per-source payload assembled DISTRIBUTED (sort by doc_id inside
    # the struct array so the byte stream is deterministic) and written
    # by the distributed blob sink — no driver-side bytes
    per_src = docs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("payload")
    )
    blobs = per_src.select(
        F.concat(F.col("source"), F.lit(".bin")).alias("file_name"),
        F.encode(F.col("payload"), "UTF-8").alias("content"),
    )
    root = tempfile.mkdtemp(prefix="spark_graft_binfiles_")
    spark.dataSource.register(BinaryFilesDataSource)
    blobs.write.format("binary_files").option("path", root).mode(
        "overwrite"
    ).save()
    bf = read_binary_files(spark, root, glob="*.bin")
    out = bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("sha256"),
    ).orderBy("file_name")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "clustered_write_pruned_scan",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           {sql_round('SUM(l_extendedprice)', 2)} AS total_price
    FROM lineitem
    WHERE l_orderkey BETWEEN 200 AND 1200
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "S4 scale path driver-checked: lineitem rewritten through "
    "write_parquet_clustered (repartitionByRange + sortWithinPartitions "
    "on l_orderkey — near-disjoint footer min/max per file, the "
    "data-skipping layout; layout property asserted in tests/test_io.py), "
    "then a range predicate on the cluster key is answered from the "
    "clustered copy and must equal the oracle's answer on the original. "
    "Key range 200-1200 sits inside EVERY SF's orderkey domain (sf0.001 "
    "tops out at 1499, so the old 2000-4000 range was empty there and "
    "the local parity check vacuous) while still pruning ~14/15 of "
    "sf0.01",
)
def q_clustered_write_pruned_scan(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.io.writers import write_parquet_clustered

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    root = tempfile.mkdtemp(prefix="spark_graft_clustered_")
    path = root + "/data"
    write_parquet_clustered(li, path, ["l_orderkey"], num_files=8)
    back = spark.read.parquet(path)
    out = (
        back.filter(F.col("l_orderkey").between(200, 1200))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("l_returnflag")
    )
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "bucketed_join_no_shuffle",
    f"""
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_round('SUM(l.l_quantity)', 2)} AS total_qty,
           {sql_round('SUM(l.l_extendedprice)', 2)} AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey <= 500
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY o.o_orderkey
    """,
    "co-located join layout driver-checked: orders and lineitem are "
    "rewritten as Hive-bucketed tables (8 buckets each, hashed + "
    "sorted on the order key), then the fact⋈fact join AND the "
    "per-orderkey aggregate run with ZERO exchange below the final "
    "presentation sort — the shuffle is paid once at write time, the "
    "100 TB answer for repeated big-big joins that broadcast() can't "
    "touch (plan shape asserted in tests/test_plans: bucket-pruned "
    "scans, SortMergeJoin with no Exchange under it). The result must "
    "equal the oracle's answer on the original un-bucketed tables",
)
def q_bucketed_join_no_shuffle(spark, sf_dir):
    import shutil

    out, root = _bucketed_join_frame(spark, sf_dir)
    try:
        return _localized(spark, out, scratch_dirs=(root,))
    finally:
        # runs on failure too: tables are external, so dropping after
        # (or without) the rmtree releases metadata only; the repeated
        # rmtree on the success path is a no-op
        spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
        spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
        shutil.rmtree(root, ignore_errors=True)


def _bucketed_join_frame(spark, sf_dir):
    """Build (lazily) the bucketed-tables join; returns (df, scratch
    root) — the caller owns teardown (tables + root). Split out so the
    plan test can inspect the ACTUAL join plan before the scratch
    tables are dropped."""
    import tempfile

    from airline_data_pipeline_spark.io.writers import write_bucketed

    root = tempfile.mkdtemp(prefix="spark_graft_bucketed_")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_bucketed(
        o, "graft_bucketed_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=root + "/orders",
    )
    write_bucketed(
        li, "graft_bucketed_lineitem", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=root + "/lineitem",
    )
    ob = spark.table("graft_bucketed_orders").filter(
        F.col("o_orderkey") <= 500
    )
    lb = spark.table("graft_bucketed_lineitem")
    # merge hint: at driver SF the planner would broadcast the filtered
    # orders side, which is exactly what a 100 TB fact⋈fact join CANNOT
    # do — the hint pins the scale-representative plan (bucket-aligned
    # SortMergeJoin, zero exchange) so the layout's value is what's
    # actually measured and plan-asserted
    out = (
        ob.hint("merge").join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            round_half_up(F.sum("l_quantity"), 2).alias("total_qty"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderkey")
    )
    return out, root


@_q(
    "schema_evolution_merged_read",
    f"""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey <= 300
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 600
    )
    SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_round('SUM(o_totalprice)', 2)} AS total_price
    FROM unioned
    GROUP BY 1 ORDER BY 1
    """,
    "S-family schema evolution: a data-lake table whose schema grew a "
    "column mid-life (batch 1 written without o_orderpriority, batch 2 "
    "with it) read back through mergeSchema=true — the unified scan "
    "back-fills NULL for pre-evolution rows, exactly the additive "
    "parquet evolution a long-lived 100 TB table accumulates; no "
    "rewrite of old batches, the merge happens at footer-read time. "
    "The oracle reproduces it as UNION ALL with a NULL literal",
)
def q_schema_evolution_merged_read(spark, sf_dir):
    import tempfile

    o = table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="spark_graft_evolve_")
    o.filter(F.col("o_orderkey") <= 300).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(root + "/b=1")
    o.filter(
        (F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 600)
    ).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(root + "/b=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        root + "/b=1", root + "/b=2"
    )
    out = (
        back.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("(pre-evolution)"))
            .alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("priority")
    )
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "json_roundtrip_export",
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
    "S2+S5 driver-checked: the nation table is written through the JSON "
    "sink and read back through the declared-schema JSON scan; the "
    "round-trip must reproduce the oracle's parquet rows",
)
def q_json_roundtrip_export(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = tempfile.mkdtemp(prefix="spark_graft_json_export_")
    n.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    out = back.orderBy("n_nationkey")
    return _localized(spark, out, scratch_dirs=(path,))


@_q(
    "dataset_split_counts",
    """
    SELECT CASE WHEN b < 10 THEN 'val'
                WHEN b < 20 THEN 'test'
                ELSE 'train' END AS split,
           COUNT(*) AS n
    FROM (SELECT (('0x' || substr(md5(doc_id::VARCHAR || ':split'),1,15))::BIGINT) % 100 AS b
          FROM documents)
    GROUP BY 1 ORDER BY split
    """,
    "corpus prep: deterministic train/val/test assignment by md5 key "
    "hash (80/10/10) — partition-invariant and growth-stable (a doc "
    "never migrates splits when the corpus changes size), unlike "
    "rng-based splitting",
)
def q_dataset_split_counts(spark, sf_dir):
    from airline_data_pipeline_spark.operators.corpus import assign_split

    d = table(spark, sf_dir, "documents")
    return (
        assign_split(d, "doc_id", val_pct=10, test_pct=10)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split")
    )


@_q(
    "corpus_prep_end_to_end",
    rf"""
    WITH rep0 AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS w
      FROM documents
    ),
    rep1 AS (
      SELECT doc_id, text,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [array_to_string(w, ' ')] END AS sh
      FROM rep0
    ),
    gated AS (
      SELECT doc_id, text FROM rep1
      WHERE len(sh) = 0 OR 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) <= 0.2
    ),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, {_NORM} AS norm FROM gated)
      GROUP BY norm
    ),
    enriched AS (
      SELECT g.doc_id,
             CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
                  ELSE 'train' END AS split,
             g.doc_id % 4 AS shard,
             len(regexp_extract_all(g.text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS toks
      FROM gated g
      JOIN survivors s ON s.doc_id = g.doc_id
      JOIN (SELECT doc_id,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':split'),1,15))::BIGINT) % 100 AS b
            FROM documents) h ON h.doc_id = g.doc_id
    ),
    packed AS (
      SELECT split, shard, toks,
             CAST(FLOOR((SUM(toks) OVER (PARTITION BY split, shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - toks) / 2048)
                  AS BIGINT) AS bin_id
      FROM enriched
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT shard || ':' || bin_id) AS BIGINT) AS n_bins,
           CAST(SUM(toks) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY split
    ORDER BY split
    """,
    "the WHOLE corpus-prep pipeline as one lazy lineage — degeneracy "
    "gate (repeated-trigram ratio <= 0.2, row-local) -> exact dedup "
    "(min-id survivor per normalized-content fingerprint, 8-byte "
    "shuffle) -> deterministic 80/10/10 split (md5 key hash) -> greedy "
    "2048-token packing per (split, shard) window -> per-split "
    "doc/bin/token rollup. Every stage is an operator the suite also "
    "checks in isolation; this query proves they COMPOSE into the "
    "production shape without materialization between stages",
)
def q_corpus_prep_end_to_end(spark, sf_dir):
    from airline_data_pipeline_spark.operators.corpus import (
        assign_split,
        pack_greedy,
    )

    d = fan_out(table(spark, sf_dir, "documents"))
    gated = d.filter(TX.repetition_ratio(F.col("text"), k=3) <= 0.2)
    survivors = dedup.dedup_exact_text(gated)
    enriched = assign_split(survivors, "doc_id", val_pct=10, test_pct=10).select(
        "doc_id",
        "split",
        (F.col("doc_id") % 4).alias("shard"),
        TX.bpe_ish_token_count(F.col("text")).alias("toks"),
    )
    packed = pack_greedy(
        enriched,
        F.col("toks"),
        budget=2048,
        order_by=["doc_id"],
        partition_by=["split", "shard"],
    )
    return (
        packed.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.concat_ws(":", "shard", "bin_id")).alias("n_bins"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
        .orderBy("split")
    )


@_q(
    "source_quality_gate",
    f"""
    WITH t AS (
      SELECT doc_id, source, text, {_DUCK_TOKS} AS toks, {_DUCK_LTOKS} AS ltoks
      FROM documents
    ),
    m AS (
      SELECT doc_id, source, text, ltoks,
             len(toks)::DOUBLE AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                  ELSE 0.0 END AS wl,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE / length(text)
                  ELSE 0.0 END AS alpha
      FROM t
    ),
    q AS (
      SELECT doc_id, source,
             0.4 * least(n_tokens / 20.0, 1.0) + 0.3 * alpha
             + 0.2 * ({_DUCK_STOP_RATIO})
             + 0.1 * (CASE WHEN wl >= 2.0 AND wl <= 12.0 THEN 1.0 ELSE 0.0 END) AS quality
      FROM m
    ),
    good AS (SELECT source FROM q GROUP BY source HAVING AVG(quality) >= 0.80)
    SELECT q.source, COUNT(*) AS n_docs,
           {sql_round('AVG(quality)', 4)} AS avg_quality
    FROM q JOIN good ON q.source = good.source
    GROUP BY q.source
    ORDER BY q.source
    """,
    "corpus prep: source-level quality gate (drop low-quality domains "
    "before doc-level filtering) — per-source mean of the JVM-expression "
    "quality score, broadcast semi-join keeps docs of passing sources; "
    "the corpus itself never shuffles (operators/corpus.py::"
    "filter_by_source_quality). Output: per surviving source, doc count "
    "and mean quality, hash-checked against the oracle's from-first-"
    "principles recomputation",
)
def q_source_quality_gate(spark, sf_dir):
    from airline_data_pipeline_spark.operators.corpus import (
        filter_by_source_quality,
    )

    d = table(spark, sf_dir, "documents")
    survivors = filter_by_source_quality(d, threshold=0.80)
    return (
        survivors.select(
            "source", TX.quality_score(F.col("text")).alias("__q")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(F.avg("__q"), 4).alias("avg_quality"),
        )
        .orderBy("source")
    )


@_q(
    "contamination_check_splits",
    f"""
    WITH sp AS (
      SELECT doc_id, text,
             CASE WHEN b < 10 THEN 'val'
                  WHEN b < 20 THEN 'test'
                  ELSE 'train' END AS split
      FROM (SELECT doc_id, text,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':split'),1,15))::BIGINT) % 100 AS b
            FROM documents)
    ),
    toks AS (SELECT doc_id, split, {_DUCK_LTOKS} AS t FROM sp),
    shn AS (
      SELECT doc_id, split,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
      FROM toks
    ),
    p AS (SELECT doc_id, split, unnest(s) AS g FROM shn),
    tg AS (SELECT DISTINCT g FROM p WHERE split = 'train'),
    ev AS (
      SELECT DISTINCT split, doc_id FROM p
      WHERE split != 'train' AND g IN (SELECT g FROM tg)
    ),
    tot AS (SELECT split, COUNT(*) AS n_docs FROM sp WHERE split != 'train' GROUP BY split)
    SELECT tot.split, n_docs,
           COALESCE(c.n, 0) AS contaminated_docs,
           {sql_round('CAST(COALESCE(c.n, 0) AS DOUBLE) / n_docs', 4)} AS contamination_rate
    FROM tot LEFT JOIN (SELECT split, COUNT(*) AS n FROM ev GROUP BY split) c
      ON tot.split = c.split
    ORDER BY tot.split
    """,
    "train/test contamination check (the eval-integrity op every "
    "training pipeline needs): a val/test doc is contaminated if it "
    "shares ANY 3-gram shingle with the training split. Engine path: "
    "hashed-shingle explode → distinct train-shingle set → left-semi "
    "join (shuffles 8-byte keys, never text) → distinct doc count per "
    "split; oracle regenerates string shingles and the same md5 split "
    "from first principles",
)
def q_contamination_check_splits(spark, sf_dir):
    from airline_data_pipeline_spark.operators.corpus import assign_split

    d = table(spark, sf_dir, "documents")
    # split attaches via broadcast join from the doc-sized frame —
    # measured fastest of three forms (see the A/B note in
    # q_ngram_overlap_contamination, which shares this shape); at a
    # corpus too large to broadcast the doc frame, assign_split BEFORE
    # the explode (carry form) keeps it join-free with the same values
    sp = assign_split(d, "doc_id", val_pct=10, test_pct=10).select(
        "doc_id", "split"
    )
    ex = (
        dedup.shingle_sets(d, "text", "doc_id", 3)
        .select("doc_id", F.explode("__sh").alias("g"))
        .join(sp, "doc_id")
    )
    train_g = ex.filter(F.col("split") == "train").select("g").distinct()
    contaminated = (
        ex.filter(F.col("split") != "train")
        .join(train_g, "g", "left_semi")
        .select("split", "doc_id")
        .distinct()
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = (
        sp.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        totals.join(contaminated, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "contaminated_docs"
            ),
            round_half_up(
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("n_docs"),
                4,
            ).alias("contamination_rate"),
        )
        .orderBy("split")
    )


@_q(
    "ngram_overlap_contamination",
    f"""
    WITH sp AS (
      SELECT doc_id, text,
             CASE WHEN b < 10 THEN 'val'
                  WHEN b < 20 THEN 'test'
                  ELSE 'train' END AS split
      FROM (SELECT doc_id, text,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':split'),1,15))::BIGINT) % 100 AS b
            FROM documents)
    ),
    toks AS (SELECT doc_id, split, {_DUCK_LTOKS} AS t FROM sp),
    shn AS (
      SELECT doc_id, split,
             CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [coalesce(array_to_string(t, ' '), '')] END AS s
      FROM toks
    ),
    p AS (SELECT doc_id, split, unnest(s) AS g FROM shn),
    tg AS (SELECT DISTINCT g FROM p WHERE split = 'train'),
    ov AS (
      SELECT split, doc_id,
             CAST(SUM(CASE WHEN g IN (SELECT g FROM tg) THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS f
      FROM p WHERE split != 'train'
      GROUP BY split, doc_id
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS eval_docs,
           CAST(SUM(CASE WHEN f >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
           {sql_round('AVG(f)', 4)} AS avg_overlap
    FROM ov GROUP BY split ORDER BY split
    """,
    "per-document n-gram OVERLAP FRACTION decontamination (the GPT-3 "
    "appendix-C standard, refined from contamination_check_splits' "
    "boolean any-overlap): for each val/test doc, the fraction of its "
    "distinct 3-gram shingles that appear anywhere in the training "
    "split; docs over 50% overlap are flagged. Engine path: one "
    "hashed-shingle explode feeds both the distinct train-shingle set "
    "and the eval side, joined on 8-byte shingle hashes with a hit "
    "flag, then a per-doc ratio aggregate — shuffles carry hashes and "
    "16-byte (split, doc) pairs, never text, so the plan holds at "
    "corpus scale where the train set is billions of shingles",
)
def q_ngram_overlap_contamination(spark, sf_dir):
    # Measured negatives (r8, interleaved medians at sf0.1): persisting
    # the exploded shingle frame (read twice: train set + eval side)
    # LOSES 1.43 -> 1.60 s — unlike dedup_minhash's per-DOC shingle
    # sets, this frame is per-SHINGLE-sized, so the cache write costs
    # more than recomputing the codegen explode; fan_out also loses
    # (1.53 -> 1.98). Three-way A/B on attaching `split` (medians):
    # broadcast join from the doc-sized frame 1.58, md5 per exploded
    # row 2.12, per-doc md5 carried through the explode 2.04 — the
    # join form wins wherever the doc-level frame fits a broadcast
    # (md5 runs once per DOC and the big side pays one hash probe);
    # at a corpus where it no longer does, switch to the carry form
    # (assign_split BEFORE the explode, zero join) — same values.
    from airline_data_pipeline_spark.operators.corpus import assign_split

    d = table(spark, sf_dir, "documents")
    sp = assign_split(d, "doc_id", val_pct=10, test_pct=10).select(
        "doc_id", "split"
    )
    ex = (
        dedup.shingle_sets(d, "text", "doc_id", 3)
        .select("doc_id", F.explode("__sh").alias("g"))
        .join(sp, "doc_id")
    )
    train_g = (
        ex.filter(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # NO broadcast hint on train_g: the train-shingle set is
    # corpus-sized (billions of hashes at scale) — the 8-byte-key
    # shuffle join IS the plan that survives 100x; AQE may still
    # broadcast at tiny SF on its own
    per_doc = (
        ex.filter(F.col("split") != "train")
        .join(train_g, "g", "left")
        .groupBy("split", "doc_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("f")
        )
    )
    return (
        per_doc.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("eval_docs"),
            F.sum((F.col("f") >= 0.5).cast("long")).alias("flagged_docs"),
            round_half_up(F.avg("f"), 4).alias("avg_overlap"),
        )
        .orderBy("split")
    )


@_q(
    "token_packing_bins",
    r"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS toks
      FROM documents
    ),
    c AS (
      SELECT shard, doc_id, toks,
             SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - toks AS run
      FROM t
    )
    SELECT shard, CAST(FLOOR(run / 4096) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS bin_tokens
    FROM c GROUP BY 1, 2 ORDER BY shard, bin_id
    """,
    "corpus prep: greedy sequence packing into 4096-token bins via an "
    "exclusive running sum per SHARD (deterministic doc_id mod 8 here; "
    "a real corpus uses its shard/file column) — the packing window is "
    "hash-partitioned and embarrassingly parallel, never a global "
    "single-partition sort; per-(shard, bin) doc counts and token "
    "totals. BPE-ish token counting reuses the regex whose cross-engine "
    "parity token_budget already pins",
)
def q_token_packing_bins(spark, sf_dir):
    from airline_data_pipeline_spark.operators.corpus import pack_greedy

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        TX.bpe_ish_token_count(F.col("text")).alias("toks"),
    )
    packed = pack_greedy(
        d, F.col("toks"), budget=4096, order_by=["doc_id"], partition_by=["shard"]
    )
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("bin_tokens"),
        )
        .orderBy("shard", "bin_id")
    )


@_q(
    "dedup_clusters_docs",
    f"""
    WITH RECURSIVE {_DUCK_SHINGLES_CTE},
    e AS (
      SELECT id_a AS s, id_b AS t FROM jac WHERE j >= 0.5
      UNION ALL
      SELECT id_b AS s, id_a AS t FROM jac WHERE j >= 0.5
    ),
    reach(s, t) AS (
      SELECT s, t FROM e
      UNION
      SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s
    )
    SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    "cluster-aware dedup: connected components over the exact-Jaccard "
    "near-dup pair graph via iterative min-label propagation (pairwise "
    "id_b-dropping under-merges transitive chains; one survivor per "
    "component is the SlimPajama-style semantics). Oracle recomputes "
    "components with a recursive transitive-closure CTE",
)
def q_dedup_clusters_docs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    pairs = dedup.exact_jaccard_pairs(d, threshold=0.5)
    return dedup.connected_components(d.select("doc_id"), pairs).orderBy("doc_id")


@_q(
    "knn_brute_force",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_round('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 4)} AS score
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, score FROM ranked WHERE rn <= 10
    ORDER BY query_id, score DESC, neighbor_id
    """,
    "similarity search: exact brute-force cosine top-10 for 5 query "
    "vectors — the ANN baseline/verifier",
)
def q_knn_brute_force(spark, sf_dir):
    # Score in double precision (both engines), round BEFORE ranking —
    # so Spark and the oracle rank identical values and ties break on id.
    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    scored = similarity.brute_force_scores(e, q, vec_col="embedding")
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    )
    return out.orderBy("query_id", F.desc("score"), "neighbor_id")


_KNN_VOTE_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, label AS true_label,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 500),
    scored AS (
      SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id,
             e.label AS nl,
             {sql_round('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 4)} AS score
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, true_label, neighbor_id, nl, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, nl AS pred_label, COUNT(*) AS v
      FROM ranked WHERE rn <= 5 GROUP BY 1, 2, 3
    ),
    win AS (
      SELECT query_id, true_label, pred_label,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY v DESC, pred_label NULLS LAST) AS wr
      FROM votes
    )
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM win WHERE wr = 1
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@_q(
    "knn_label_vote",
    _KNN_VOTE_ORACLE,
    "embedding-space label audit: leave-one-out 5-NN majority-vote "
    "classification of a FIXED 500-vector labeled eval slice "
    "(vec_id < 500 — the audit set stays fixed as the corpus grows, "
    "so scoring cost is corpus x |eval|, LINEAR in the corpus; a "
    "fraction-sized sample would quietly make the brute scorer "
    "quadratic), "
    "reported as a (true_label, predicted_label, n) confusion summary "
    "— the annotate-a-sample / audit-the-classifier loop of embedding-"
    "based quality labeling (FineWeb-Edu-style classifiers vote from "
    "labeled neighbors before a model is trained). Determinism "
    "discipline is the kNN family's: double cosine rounded to 4dp "
    "BEFORE ranking, rank ties on neighbor_id, vote ties to the "
    "smallest label — integer-exact from there. Scale shape: the "
    "eval sample is broadcast (sample-sized, like the kNN query "
    "side), the corpus streams through the scorer unshuffled, and "
    "only sample-bounded top-5 rows reach the vote shuffle; at "
    "100 TB swap the brute-force scorer for lsh_topk/ivf_topk with "
    "measured recall — the vote/audit stages are unchanged",
)
def q_knn_label_vote(spark, sf_dir):
    return _label_vote_confusion(
        spark, sf_dir,
        lambda e, q: similarity.brute_force_scores(e, q, vec_col="embedding"),
    )


def _label_vote_confusion(spark, sf_dir, scorer):
    """Shared vote/audit stages of the label-vote family — only the
    scorer differs between the exact and ANN variants, exactly the swap
    the 100 TB story promises (the vote, winner, and confusion stages
    never change)."""
    # fan_out A/B-measured at sf0.1: 6.2-8.7 s single-partition scan vs
    # 1.2-1.4 s fanned (the BNLJ scorer serializes on a one-file scan;
    # no-op on multi-file production layouts)
    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 500)
    scored = scorer(e, q)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    top5 = top_k_per_group(
        rounded, ["query_id"], "score", 5, tiebreakers=["neighbor_id"]
    )
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("pred_label")
    )
    votes = (
        top5.join(labels, "neighbor_id")
        .groupBy("query_id", "pred_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    # NULLS LAST pinned on BOTH sides: pred_label is the first DATA
    # column this family ranks on (ids/scores are non-null), and Spark
    # asc defaults NULLS FIRST where DuckDB defaults NULLS LAST
    w = Window.partitionBy("query_id").orderBy(
        F.desc("v"), F.asc_nulls_last("pred_label")
    )
    winner = votes.withColumn("wr", F.row_number().over(w)).filter(F.col("wr") == 1)
    truth = q.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        winner.join(F.broadcast(truth), "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )


@_q(
    "knn_label_vote_lsh",
    _KNN_VOTE_ORACLE,
    "the label-vote audit through the ANN scorer it swaps to at scale: "
    "identical vote/winner/confusion stages (shared helper), but "
    "neighbors come from lsh_scores' SRP candidate buckets instead of "
    "the brute-force broadcast scorer — the swap knn_label_vote's "
    "docstring promises, exercised instead of asserted on paper. Run "
    "at the guaranteed-recall settings knn_lsh pins (2 bits x 24 "
    "tables; this synthetic corpus's true neighbors sit at cosine "
    "0.3-0.5, per-neighbor miss ~3e-5), so the confusion matrix equals "
    "the exact oracle's; production corpora with close neighbors use "
    "8-12 bits and few tables, and only the scorer line changes. "
    "Scale shape: candidate generation shuffles (tbl, bucket) id pairs "
    "only — sub-linear in the corpus once bits track corpus growth "
    "(the campaign-measured cure for the brute scorer's linear cost)",
)
def q_knn_label_vote_lsh(spark, sf_dir):
    return _label_vote_confusion(
        spark, sf_dir,
        lambda e, q: similarity.lsh_scores(e, q, n_bits=2, n_tables=24),
    )


_KNN_EXACT_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_round('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 4)} AS score
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, score FROM ranked WHERE rn <= 10
    ORDER BY query_id, score DESC, neighbor_id
"""


def _exact_topk_query(spark, sf_dir, scorer):
    """Shared shape for the oracle-checked ANN queries: score through the
    approximate operator, round (so both engines rank identical values),
    then take the per-query top-10 with id tiebreaks."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    scored = scorer(e, q)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    )
    return out.orderBy("query_id", F.desc("score"), "neighbor_id")


@_q(
    "knn_lsh",
    _KNN_EXACT_ORACLE,
    "similarity search (scale path): SRP-LSH bucketed top-10. This "
    "synthetic corpus has no close neighbors (true top-10 sits at cosine "
    "0.3-0.5), so the bucketing here runs at guaranteed-recall settings "
    "(2 bits × 24 tables: per-neighbor miss ≈ 3e-5) and the output equals "
    "the exact top-10 the oracle computes; corpora with real near-dups "
    "(cosine ≥ 0.8) use 8-12 bits and few tables, scoring a tiny "
    "candidate fraction",
)
def q_knn_lsh(spark, sf_dir):
    return _exact_topk_query(
        spark,
        sf_dir,
        lambda e, q: similarity.lsh_scores(e, q, n_bits=2, n_tables=24),
    )


@_q(
    "knn_ivf",
    _KNN_EXACT_ORACLE,
    "similarity search (scale path 2): IVF coarse quantization — corpus "
    "assigned to nearest sampled centroid, queries probe nprobe cells. "
    "Probing all 16 cells makes the result exactly the true top-10 "
    "(cell assignment partitions the corpus), which the oracle verifies; "
    "the nprobe/n_centroids dial trades that recall for probe cost at "
    "scale",
)
def q_knn_ivf(spark, sf_dir):
    return _exact_topk_query(
        spark,
        sf_dir,
        lambda e, q: similarity.ivf_scores(e, q, n_centroids=16, nprobe=16),
    )


@_q(
    "knn_via_ivf_index",
    _KNN_EXACT_ORACLE,
    "the production shape of IVF similarity search: the corpus is "
    "fitted and STORED once as a parquet IVF index (centroid table + "
    "the corpus pre-assigned to cells, written partitionBy(cell), + a "
    "param meta table — the ANN twin of the minhash index artifact), "
    "then queries probe the STORED index: batch-sized probe rows "
    "broadcast against the cell-partitioned scan, so the index is "
    "never shuffled and never re-fit, and each probe reads only its "
    "nprobe cells' files. Probing all 16 cells makes the round-trip "
    "exactly the true top-10 — the same oracle as knn_ivf, so going "
    "through the artifact must change nothing",
)
def q_knn_via_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfidx_")
    similarity.write_ivf_index(e, root, n_centroids=16)
    scored = similarity.ivf_index_scores(q, root, nprobe=16)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_appended_ivf_index",
    _KNN_EXACT_ORACLE,
    "IVF index LIFECYCLE (VERDICT r10 #4): the index is built on only "
    "the even-id half of the corpus, the odd-id half arrives later as "
    "an ingest batch appended via append_to_ivf_index — assigned to "
    "the EXISTING frozen centroids and landed as new files inside the "
    "existing cell= directories (stored rows never read or reshuffled; "
    "append cost is O(batch)). Probing all cells of the appended "
    "index must equal the exact top-10 over the FULL corpus — the "
    "same oracle as knn_via_ivf_index, so growing the artifact "
    "batch-wise changes nothing vs building it whole. At fixed nprobe "
    "the append trades recall drift (corpus outgrowing the frozen "
    "centroids) for never re-fitting — the production rebuild dial",
)
def q_knn_via_appended_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfapp_")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root, n_centroids=16
    )
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), root)
    scored = similarity.ivf_index_scores(q, root, nprobe=16)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_compacted_ivf_index",
    _KNN_EXACT_ORACLE,
    "the THIRD verb of the IVF index lifecycle: build (multi-file "
    "cells) -> append (new files in existing cell= dirs) -> COMPACT "
    "(compact_ivf_cells rewrites each cell back to one file — same "
    "(cell, salt) writer-spread as the build, atomic directory swap, "
    "stored cell ASSIGNMENTS reused verbatim, no UDF and no re-fit) "
    "-> probe. Probe-all over the compacted artifact must still equal "
    "the exact top-10 on the full corpus — compaction is an IO-layout "
    "operation and must be score-invisible. At 100 TB this is the "
    "maintenance cadence that keeps long-lived appended indexes from "
    "degrading probes into small-file listing storms",
)
def q_knn_via_compacted_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfcomp_")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root, n_centroids=16,
        files_per_cell=2,
    )
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), root)
    similarity.compact_ivf_cells(spark, root, files_per_cell=1)
    scored = similarity.ivf_index_scores(q, root, nprobe=16)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_refitted_ivf_index",
    _KNN_EXACT_ORACLE,
    "the FOURTH verb of the IVF index lifecycle (VERDICT r11 #2): "
    "build on the even-id half -> append the odd half onto the frozen "
    "centroids -> REFIT (refit_ivf_index re-fits the centroid model "
    "from the index's own stored rows — deterministic xxhash sample, "
    "one Lloyd pass — and re-assigns every row in ONE O(index) "
    "IO-parallel pass into sibling layouts swapped in crash-safely; "
    "fit_gen increments) -> probe. Probe-all over the refitted index "
    "must still equal the exact top-10 on the full corpus — any "
    "assignment of the same rows partitions the corpus, so the refit "
    "is score-invisible at probe-all while recovering fixed-nprobe "
    "recall lost to distribution drift (the measured rebuild dial: "
    "<=0.02 recall@10 drift at 2x same-distribution growth per "
    "BASELINE.md's round-11 append-lifecycle recall-drift "
    "measurement, immediate drift on "
    "shifted appends per tests/test_similarity.py::"
    "test_refit_recovers_recall_on_shifted_corpus). This is the "
    "reference's declared-but-unbuilt 'keep data fresh' maintenance "
    "(/root/reference/README.md:112-116) shaped for an ANN store",
)
def q_knn_via_refitted_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfref_")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root, n_centroids=16
    )
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), root)
    similarity.refit_ivf_index(spark, root, refine_iters=1)
    scored = similarity.ivf_index_scores(q, root, nprobe=16)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_split_ivf_index",
    _KNN_EXACT_ORACLE,
    "LOCAL index rebalancing (round 14): a deliberately COARSE "
    "4-centroid build guarantees (pigeonhole) a cell above a 20% "
    "occupancy cap — the drifted-index shape where every probe of "
    "that cell scans a corpus-fraction; split_hot_cells re-fits "
    "sub-centroids from the HOT CELL'S OWN rows only and re-assigns "
    "just those rows (O(hot cell), vs refit_ivf_index's O(index) "
    "global rewrite — the FAISS-style local rebalance), extending the "
    "dense centroid range, bumping fit_gen, committing the model "
    "BEFORE the row moves so every crash point stays "
    "probe-all-reachable (fsck finishes an interrupted move). "
    "Probe-all over the split index must equal the exact top-10 — "
    "cells partition the corpus under ANY assignment, so a split is "
    "score-invisible at probe-all while cutting the hot cell's "
    "fixed-nprobe scan cost",
)
def q_knn_via_split_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfsplit_")
    similarity.write_ivf_index(e, root, n_centroids=4)
    # refine_iters=1: probe-all equality holds for ANY assignment of
    # the same rows, so extra Lloyd passes only buy fixed-nprobe
    # recall the oracle never sees — keep the lifecycle row lean
    done = similarity.split_hot_cells(
        spark, root, max_cell_fraction=0.2, n_splits=2, refine_iters=1
    )
    assert done  # pigeonhole: one of 4 cells holds > 20%
    scored = similarity.ivf_index_scores(q, root, nprobe=99)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_maintained_ivf_index",
    _KNN_EXACT_ORACLE,
    "the maintenance orchestrator on the ANN store (round 14, the "
    "sibling of incremental_dedup_via_maintained_index): a coarse "
    "4-cell index is built on the even ids WITH a PQ artifact, grown "
    "with the odd ids (PQ now row-stale; probes fail loudly), then "
    "ONE maintain_stored_index call runs fsck, file-count-triggered "
    "cell compaction, the hot-cell local split (pigeonhole guarantees "
    "one), and the stale-PQ re-encode over the new cell layout. The "
    "PQ probe-all with exact re-rank through the maintained artifact "
    "must equal the exact top-10 on the full corpus — five composed "
    "verbs, one behavior-invisible pass",
)
def q_knn_via_maintained_ivf_index(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.operators.maintenance import (
        maintain_stored_index,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfmaint_")
    similarity.write_ivf_index(
        e.filter(F.col("vec_id") % 2 == 0), root,
        n_centroids=4, files_per_cell=2,
    )
    similarity.add_pq_to_ivf_index(spark, root, m=16, ksub=256)
    similarity.append_to_ivf_index(e.filter(F.col("vec_id") % 2 == 1), root)
    report = maintain_stored_index(
        spark, root, "ivf", max_files_per_table=4,
        max_cell_fraction=0.2, pq_params={"m": 16, "ksub": 256},
    )
    acts = {a for _, a, _ in report}
    assert {"compacted", "split hot cells", "re-encoded stale PQ artifact"} <= acts
    n_rows = int(
        read_meta_first(spark, root + "/meta").asDict().get("n_rows") or 0
    )
    scored = similarity.ivf_pq_index_scores(
        q, root, nprobe=99, rerank=max(150, n_rows // 10)
    )
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_pq_ivf_index",
    _KNN_EXACT_ORACLE,
    "IVF-PQ — the remaining standard ANN memory lever at 100 TB "
    "(VERDICT r11 #5): add_pq_to_ivf_index augments the stored index "
    "with m per-subspace codebooks (model-sized, fitted like the "
    "centroids from a deterministic xxhash sample) and an m-bytes-per-"
    "row pqcodes table (partitionBy(cell), so probes prune it exactly "
    "like the cells table; ≥4× smaller on disk, asserted in "
    "tests/test_similarity.py). The probe generates candidates from "
    "the CODES scan with asymmetric-distance cosine (exact query vs "
    "codeword reconstruction), keeps the ADC top-150 per query, and "
    "re-ranks ONLY those against the full-vector cells table — so the "
    "returned scores are exact and the approximation only decides who "
    "gets re-ranked. Probe-all + a rerank depth that SCALES with the "
    "corpus (max(150, n/10)) equals the true top-10: the measured "
    "worst true-top-10 ADC rank on this corpus (uniform random "
    "vectors — PQ's worst case) GROWS with size — 21 at 500 rows / 68 "
    "at 2000 rows at m=16, ksub=256 — so a fixed depth is a latent "
    "trap at larger sf (ADVICE r12); n/10 keeps ≥3x margin over the "
    "measured worst-rank growth and the margin is regression-tested "
    "at half depth. Stale-artifact states fail "
    "loudly: an append (ledger mismatch) or refit (fit_gen mismatch) "
    "after the encode tells the caller to re-run add_pq_to_ivf_index",
)
def q_knn_via_pq_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfpq_")
    similarity.write_ivf_index(e, root, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, root, m=16, ksub=256)
    # rerank tracks the corpus row count (the meta ledger — free, no
    # extra scan): worst true-top-10 ADC rank grows with corpus size,
    # so exactness must be size-robust, not pinned to sf0.01's margin
    n_rows = int(
        read_meta_first(spark, root + "/meta").asDict().get("n_rows") or 0
    )
    scored = similarity.ivf_pq_index_scores(
        q, root, nprobe=16, rerank=max(150, n_rows // 10)
    )
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_retracted_ivf_index",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_round('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 4)} AS score
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id AND e.vec_id % 2 = 0
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, score FROM ranked WHERE rn <= 10
    ORDER BY query_id, score DESC, neighbor_id
""",
    "IVF index RETRACTION (VERDICT r12 #1 — the deletion symmetry "
    "gap: the MinHash index could forget a document, the embedding "
    "store could not, and a 100 TB ANN store carries the same GDPR "
    "right-to-be-forgotten obligation): the index is built on the "
    "FULL corpus, PQ-encoded, then every odd-id vector is RETRACTED "
    "via retract_from_ivf_index — the cells AND pqcodes tables "
    "rewrite without the retracted rows (one IO-parallel anti-join "
    "pass each, broadcast retraction set, cell assignments reused "
    "verbatim, salted partitionBy(cell) layout preserved, crash-safe "
    "park-swap; cells first, so both probe paths behave "
    "fully-retracted from the first swap), and BOTH row ledgers "
    "re-stamp from their own kept counts so the PQ consistency guard "
    "stays coherent without a re-encode. The probe runs the PQ path "
    "(ADC candidates + exact re-rank at the size-tracking depth) over "
    "the retracted artifact and must hash-match the exact top-10 on "
    "corpus-minus-retracted — every retracted vector's top-k slot "
    "backfills with the next nearest survivor (the observable point "
    "of retraction; rank-backfill also unit-tested)",
)
def q_knn_via_retracted_ivf_index(spark, sf_dir):
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfretr_")
    similarity.write_ivf_index(e, root, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, root, m=16, ksub=256)
    similarity.retract_from_ivf_index(
        spark, root,
        e.filter(F.col("vec_id") % 2 == 1).select(
            F.col("vec_id").alias("neighbor_id")
        ),
    )
    n_rows = int(
        read_meta_first(spark, root + "/meta").asDict().get("n_rows") or 0
    )
    scored = similarity.ivf_pq_index_scores(
        q, root, nprobe=16, rerank=max(150, n_rows // 10)
    )
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "embedding_near_dups",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_round('list_cosine_similarity(a.v, b.v)', 4)} AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {sql_round('list_cosine_similarity(a.v, b.v)', 4)} >= 0.45
    ORDER BY id_a, id_b
    """,
    "embedding-cosine near-duplicate pairs via SRP-LSH candidates + exact "
    "verify; threshold 0.45 because the synthetic corpus's most-similar "
    "pair is ~0.51 — production near-dup would use ≥0.9. Guaranteed-recall "
    "LSH settings (2 bits × 24 tables, per-pair miss ≈ 2e-6) make the "
    "output equal the oracle's exact all-pairs scan; both engines filter "
    "on the ROUNDED cosine so a 1-ulp scoring difference cannot flip "
    "threshold membership",
)
def q_embedding_near_dups(spark, sf_dir):
    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pairs = similarity.cosine_near_dup_pairs(
        e, threshold=0.40, n_bits=2, n_tables=24
    )
    return (
        pairs.select("id_a", "id_b", round_half_up(F.col("cosine"), 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.45)
        .orderBy("id_a", "id_b")
    )


@_q(
    "embedding_ingest_gate",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dups AS (
      SELECT DISTINCT n.vec_id
      FROM e n JOIN e r ON r.label = 0 AND n.label <> 0
      WHERE {sql_round('list_cosine_similarity(n.v, r.v)', 4)} >= 0.45
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS vecs_in,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_kept,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_dropped
    FROM embeddings n LEFT JOIN dups d USING (vec_id)
    WHERE n.label <> 0
    GROUP BY n.label ORDER BY n.label
    """,
    "incremental SEMANTIC near-dup gate (SemDeDup-shape twin of "
    "incremental_minhash_dedup): label-0 vectors are the frozen "
    "reference; every other label is an incoming batch gated by "
    "cross-set SRP bucket collisions + exact cosine ≥ 0.45 on the "
    "ROUNDED score (both engines threshold the 4-dp rounding so a "
    "1-ulp libm difference cannot flip membership). Guaranteed-recall "
    "settings (2 bits × 24 tables) make the gate equal the oracle's "
    "exhaustive cross-set scan; per-label kept/dropped counts",
)
def q_embedding_ingest_gate(spark, sf_dir):
    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    kept = similarity.embedding_gate_against_reference(
        inc, ref, threshold=0.45, n_bits=2, n_tables=24, round_digits=4
    )
    return _gate_stats(inc, kept, "label", "vecs")


_DUCK_EMBED_GATE_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dups AS (
      SELECT DISTINCT n.vec_id
      FROM e n JOIN e r ON r.label = 0 AND n.label <> 0
      WHERE {sql_round('list_cosine_similarity(n.v, r.v)', 4)} >= 0.45
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS vecs_in,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_kept,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_dropped
    FROM embeddings n LEFT JOIN dups d USING (vec_id)
    WHERE n.label <> 0
    GROUP BY n.label ORDER BY n.label
    """


@_q(
    "embedding_gate_via_index",
    _DUCK_EMBED_GATE_ORACLE,
    "the production shape of the SEMANTIC incremental gate: the label-0 "
    "reference is SRP-hashed ONCE into a parquet artifact "
    "(write_srp_index: (id, tbl, bucket) keys + full vectors + a param "
    "meta table — the embedding twin of the minhash index; until now "
    "the semantic gate re-bucketized its reference on every call), "
    "then the batch gates against the STORED index: the batch side "
    "broadcasts at every join, the stored buckets and vectors are "
    "scanned and never shuffled, and the seed-derived hyperplanes "
    "recorded in meta make a batch banded today collide correctly with "
    "a reference banded at build time. Same oracle as "
    "embedding_ingest_gate — a round-trip through the artifact must "
    "change nothing (the incremental_dedup_via_index contract, "
    "vector-shaped)",
)
def q_embedding_gate_via_index(spark, sf_dir):
    import tempfile

    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    root = tempfile.mkdtemp(prefix="spark_graft_srpidx_")
    similarity.write_srp_index(ref, root, dims=64, n_bits=2, n_tables=24)
    kept = similarity.embedding_gate_against_index(
        inc, root, threshold=0.45, round_digits=4
    )
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "embedding_gate_after_retraction",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dups AS (
      SELECT DISTINCT n.vec_id
      FROM e n JOIN e r ON r.label = 0 AND n.label >= 2
      WHERE {sql_round('list_cosine_similarity(n.v, r.v)', 4)} >= 0.45
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS vecs_in,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_kept,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_dropped
    FROM embeddings n LEFT JOIN dups d USING (vec_id)
    WHERE n.label >= 2
    GROUP BY n.label ORDER BY n.label
    """,
    "SRP index RETRACTION — the deletion verb that completes the verb "
    "symmetry across all three stored artifacts (minhash r12, IVF/PQ "
    "r13, SRP here): the semantic index is built on the label-0 AND "
    "label-1 vectors, then every label-1 vector is RETRACTED via "
    "retract_from_srp_index (both tables rewrite without the retracted "
    "rows — broadcast anti-join, join-aligned layouts, crash-safe "
    "park-swap, buckets-first ordering so gating behaves "
    "fully-retracted from the first swap). Labels >= 2 then gate "
    "against the retracted artifact; the oracle recomputes exhaustive "
    "cross-set cosine against label 0 ONLY, so the retracted index "
    "must gate exactly like one built on reference-minus-retracted — "
    "a retracted vector's semantic twin re-admits",
)
def q_embedding_gate_after_retraction(spark, sf_dir):
    import tempfile

    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label").isin(0, 1))
    inc = e.filter(F.col("label") >= 2)
    root = tempfile.mkdtemp(prefix="spark_graft_srpretr_")
    similarity.write_srp_index(ref, root, dims=64, n_bits=2, n_tables=24)
    similarity.retract_from_srp_index(
        spark, root, e.filter(F.col("label") == 1).select("vec_id")
    )
    kept = similarity.embedding_gate_against_index(
        inc, root, threshold=0.45, round_digits=4
    )
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "embedding_gate_via_compacted_index",
    _DUCK_EMBED_GATE_ORACLE,
    "SRP index COMPACTION (round 14, completing compaction symmetry "
    "across all three stored artifacts): the semantic index is built "
    "on a third of the label-0 reference and GROWN with two appends "
    "(each landing num_files new small files per table), then "
    "compact_srp_index rewrites buckets back to few files partitioned "
    "on the gate's own (tbl, bucket) join keys and vectors on the id "
    "— layout changes, content never (rows copied verbatim, crash-safe "
    "park-swap per table). The gate through the compacted artifact "
    "must equal the exhaustive-cosine oracle exactly, i.e. compaction "
    "is gate-invisible — the same contract the minhash and IVF "
    "compactions carry",
)
def q_embedding_gate_via_compacted_index(spark, sf_dir):
    import tempfile

    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    root = tempfile.mkdtemp(prefix="spark_graft_srpcompact_")
    similarity.write_srp_index(
        ref.filter(F.col("vec_id") % 3 == 0), root,
        dims=64, n_bits=2, n_tables=24,
    )
    similarity.append_to_srp_index(ref.filter(F.col("vec_id") % 3 == 1), root)
    similarity.append_to_srp_index(ref.filter(F.col("vec_id") % 3 == 2), root)
    similarity.compact_srp_index(spark, root, num_files=8)
    kept = similarity.embedding_gate_against_index(
        inc, root, threshold=0.45, round_digits=4
    )
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "embedding_gate_skip_hot_cold_ledger",
    _DUCK_EMBED_GATE_ORACLE,
    "the SRP gate's skew guard, driver-checked end-to-end (VERDICT r13 "
    "#2): refresh_srp_hot_buckets materializes the hot-bucket ledger "
    "(one groupBy-count over the stored buckets, crash-safe swap), and "
    "the gate runs with skip_hot=True — ledger load, the loud "
    "missing-ledger guard, and the broadcast anti-join all execute on "
    "the driver's box. The hot threshold is set above any bucket's "
    "occupancy, so the ledger is COLD (empty) and the guarded gate "
    "must equal the exhaustive-cosine oracle exactly — the no-false-"
    "skips half of the guard's contract (a buggy anti-join dropping "
    "non-hot keys would diverge). The skipping half — a crafted hot "
    "cluster admitted un-gated — is deliberately NOT oracled: which "
    "buckets are hot is an SRP-space fact no SQL can recompute; "
    "tests/test_similarity.py::test_srp_hot_bucket_ledger_skips_only_hot "
    "pins it",
)
def q_embedding_gate_skip_hot_cold_ledger(spark, sf_dir):
    import tempfile

    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    root = tempfile.mkdtemp(prefix="spark_graft_srpskiphot_")
    similarity.write_srp_index(ref, root, dims=64, n_bits=2, n_tables=24)
    n_hot = similarity.refresh_srp_hot_buckets(
        spark, root, hot_threshold=10**6
    )
    assert n_hot == 0  # cold by construction at every SF
    kept = similarity.embedding_gate_against_index(
        inc, root, threshold=0.45, round_digits=4, skip_hot=True
    )
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "embedding_gate_via_folded_index",
    _DUCK_EMBED_GATE_ORACLE,
    "the embedding admit loop's FOLD verb (round 14, the semantic twin "
    "of incremental_dedup_via_folded_index): the SRP index is built on "
    "half the label-0 reference, the other half lands as a batch=<id> "
    "delta dir, and fold_admitted_batches appends it (params inherited "
    "from the index's own meta — one hyperplane family governs both "
    "generations) and retires the dir to folded=<id>. The gate through "
    "the folded artifact alone must equal the exhaustive-cosine oracle "
    "against ALL of label 0 — fold == append == rebuild on the vector "
    "side too",
)
def q_embedding_gate_via_folded_index(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        fold_admitted_batches,
    )

    e = fan_out(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    root = tempfile.mkdtemp(prefix="spark_graft_srpfold_idx_")
    delta = tempfile.mkdtemp(prefix="spark_graft_srpfold_out_")
    similarity.write_srp_index(
        ref.filter(F.col("vec_id") % 2 == 0), root,
        dims=64, n_bits=2, n_tables=24,
    )
    ref.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    ).write.mode("overwrite").parquet(f"{delta}/batch=0")
    fold_admitted_batches(spark, delta, root, kind="srp")
    kept = similarity.embedding_gate_against_index(
        inc, root, threshold=0.45, round_digits=4
    )
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(spark, out, scratch_dirs=(root, delta))


def _vector_admit_oracle() -> str:
    """Sequential semantic-gate oracle, unrolled: vector batch k
    (incoming vec_id ≡ k mod 4) gates against label-0 ∪ kept(0..k-1)
    at rounded cosine ≥ 0.45 — the text admit loop's oracle pattern
    over the exhaustive pairwise-cosine relation."""
    levels = []
    for k in range(4):
        prev_ref = "ref0" if k == 0 else f"ref{k}"
        levels.append(f"""
    b{k} AS (SELECT vec_id FROM e WHERE label <> 0 AND b = {k}),
    drop{k} AS (
      SELECT DISTINCT bk.vec_id
      FROM cand JOIN b{k} bk
        ON cand.ia = bk.vec_id OR cand.ib = bk.vec_id
      JOIN {prev_ref} rf
        ON (cand.ia = bk.vec_id AND cand.ib = rf.vec_id)
        OR (cand.ib = bk.vec_id AND cand.ia = rf.vec_id)
    ),
    kept{k} AS (SELECT vec_id FROM b{k} EXCEPT SELECT vec_id FROM drop{k}),
    ref{k + 1} AS (SELECT vec_id FROM {prev_ref}
                   UNION SELECT vec_id FROM kept{k})""")
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                      vec_id % 4 AS b
               FROM embeddings),
    cand AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {sql_round('list_cosine_similarity(a.v, b.v)', 4)} >= 0.45
    ),
    ref0 AS (SELECT vec_id FROM e WHERE label = 0),
    {",".join(levels)},
    dropped AS (
      SELECT vec_id FROM drop0 UNION SELECT vec_id FROM drop1
      UNION SELECT vec_id FROM drop2 UNION SELECT vec_id FROM drop3
    )
    SELECT n.label,
           CAST(COUNT(*) AS BIGINT) AS vecs_in,
           CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_kept,
           CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_dropped
    FROM embeddings n LEFT JOIN dropped dr USING (vec_id)
    WHERE n.label <> 0
    GROUP BY n.label ORDER BY n.label
    """


@_q(
    "streaming_vector_admit_loop",
    _vector_admit_oracle(),
    "the embedding twin of streaming_ingest_admit_loop — the SemDeDup "
    "ingest-then-admit loop run continuously "
    "(run_vector_ingest_admit_sink): four mtime-ordered micro-batches "
    "of vectors each gate against the frozen label-0 reference's "
    "STORED SRP index AND every batch admitted before them (rounded "
    "cosine ≥ 0.45; one seed-derived hyperplane family from the "
    "index's meta governs all three reference generations), so a "
    "vector near-duplicating an earlier stream arrival drops too — "
    "this corpus has 5 measured cross-batch pairs beyond the 1 "
    "cross-reference pair, so the sequential semantics are exercised. "
    "Same strictly-earlier-ids landed-delta design as the text sink "
    "for exact replay idempotence; the oracle unrolls the four "
    "sequential gate levels over the exhaustive pairwise-cosine "
    "relation",
)
def q_streaming_vector_admit_loop(spark, sf_dir):
    import glob
    import os
    import shutil
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_vector_ingest_admit_sink,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter(F.col("label") != 0)
    idx = tempfile.mkdtemp(prefix="spark_graft_vadmit_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_vadmit_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_vadmit_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_vadmit_ckpt_")
    stage = tempfile.mkdtemp(prefix="spark_graft_vadmit_stage_")
    similarity.write_srp_index(ref, idx, dims=64, n_bits=2, n_tables=24)
    for k in range(4):
        part_dir = f"{stage}/b{k}"
        inc.filter(F.col("vec_id") % 4 == k).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = glob.glob(f"{part_dir}/part-*.parquet")[0]
        dst = f"{src}/{k:04d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    run_vector_ingest_admit_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=1),
        idx,
        out_dir,
        ckpt,
        threshold=0.45,
        round_digits=4,
    )
    landed_ids = spark.read.parquet(out_dir + "/batch=*").select("vec_id")
    kept = inc.join(landed_ids, "vec_id", "left_semi")
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(
        spark, out, scratch_dirs=(idx, src, out_dir, ckpt, stage)
    )


def _vector_admit_fold_maintain_oracle() -> str:
    """The embedding twin of `_admit_fold_maintain_oracle`: two
    streamed vector batches (vec_id%4==1 then ==2, nonzero labels)
    gate sequentially at rounded cosine >= 0.45 against label-0 ∪
    earlier admits; the FINAL increment (nonzero labels, vec_id%4 in
    (0,3)) gates against label-0 ∪ kept(b0) ∪ kept(b1) — the folded
    index's exact contents. Output groups the final increment by
    label (9 rows)."""
    levels = []
    for k, b in enumerate((1, 2)):
        prev_ref = f"ref{k}"
        levels.append(f"""
    b{k} AS (SELECT vec_id FROM e WHERE label <> 0 AND b = {b}),
    drop{k} AS (
      SELECT DISTINCT bk.vec_id
      FROM cand JOIN b{k} bk
        ON cand.ia = bk.vec_id OR cand.ib = bk.vec_id
      JOIN {prev_ref} rf
        ON (cand.ia = bk.vec_id AND cand.ib = rf.vec_id)
        OR (cand.ib = bk.vec_id AND cand.ia = rf.vec_id)
    ),
    kept{k} AS (SELECT vec_id FROM b{k} EXCEPT SELECT vec_id FROM drop{k}),
    ref{k + 1} AS (SELECT vec_id FROM {prev_ref}
                   UNION SELECT vec_id FROM kept{k})""")
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                      vec_id % 4 AS b
               FROM embeddings),
    cand AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {sql_round('list_cosine_similarity(a.v, b.v)', 4)} >= 0.45
    ),
    ref0 AS (SELECT vec_id FROM e WHERE label = 0),
    {",".join(levels)},
    inc AS (SELECT vec_id, label FROM e
            WHERE label <> 0 AND b IN (0, 3)),
    dropf AS (
      SELECT DISTINCT i.vec_id
      FROM cand JOIN inc i
        ON cand.ia = i.vec_id OR cand.ib = i.vec_id
      JOIN ref2 rf
        ON (cand.ia = i.vec_id AND cand.ib = rf.vec_id)
        OR (cand.ib = i.vec_id AND cand.ia = rf.vec_id)
    )
    SELECT i.label,
           CAST(COUNT(*) AS BIGINT) AS vecs_in,
           CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_kept,
           CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS vecs_dropped
    FROM inc i LEFT JOIN dropf dr USING (vec_id)
    GROUP BY i.label ORDER BY i.label
    """


@_q(
    "streaming_vector_admit_fold_maintain_gate",
    _vector_admit_fold_maintain_oracle(),
    "the embedding twin of streaming_admit_fold_maintain_gate — the "
    "SemDeDup production cadence as ONE composition: the label-0 SRP "
    "index is written deliberately fragmented with its hot-bucket "
    "ledger materialized, the vector ingest-admit LOOP streams two "
    "mtime-ordered batches (vec_id%4==1 then ==2) through the real "
    "streaming engine (each gating at rounded cosine >= 0.45 against "
    "label-0 AND every batch admitted before it), the loop quiesces, "
    "fold_admitted_batches(kind='srp') folds the landed delta into "
    "the stored index and retires the dirs, "
    "maintain_stored_index(kind='srp') runs fsck + file-count-"
    "triggered compaction + the occupancy-drift report + the ledger "
    "refresh in one pass, and the FINAL increment (nonzero labels, "
    "vec_id%4 in (0,3)) gates (skip_hot=True, through the refreshed "
    "ledger) against the folded+maintained index ALONE. Equal to the "
    "exhaustive sequential-cosine ground truth iff every verb in the "
    "chain preserved gate semantics",
)
def q_streaming_vector_admit_fold_maintain_gate(spark, sf_dir):
    import glob
    import os
    import shutil
    import tempfile

    from airline_data_pipeline_spark.operators.maintenance import (
        maintain_stored_index,
    )
    from airline_data_pipeline_spark.streaming.events import (
        fold_admitted_batches,
        read_vectors_stream,
        run_vector_ingest_admit_sink,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    ref = e.filter(F.col("label") == 0)
    inc = e.filter((F.col("label") != 0) & (F.col("vec_id") % 4).isin(0, 3))
    idx = tempfile.mkdtemp(prefix="spark_graft_vafmg_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_vafmg_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_vafmg_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_vafmg_ckpt_")
    stage = tempfile.mkdtemp(prefix="spark_graft_vafmg_stage_")
    similarity.write_srp_index(
        ref, idx, dims=64, n_bits=2, n_tables=24, num_files=24
    )
    similarity.refresh_srp_hot_buckets(spark, idx, hot_threshold=10**6)
    for k, b in enumerate((1, 2)):
        part_dir = f"{stage}/b{k}"
        e.filter((F.col("label") != 0) & (F.col("vec_id") % 4 == b)).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = glob.glob(f"{part_dir}/part-*.parquet")[0]
        dst = f"{src}/{k:04d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    run_vector_ingest_admit_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=1),
        idx,
        out_dir,
        ckpt,
        threshold=0.45,
        round_digits=4,
    )
    fold_admitted_batches(spark, out_dir, idx, kind="srp")
    # hot_threshold must thread through — with n_bits=2 there are only
    # 4 buckets/table, so at sf0.1 (~275 rows/bucket) the default 64
    # would mark EVERY bucket hot and skip_hot would strip every batch
    # key, admitting all rows un-gated (r15 review finding); the
    # cold-ledger dial keeps the gate exact at every sf
    report = maintain_stored_index(
        spark, idx, "srp", max_files_per_table=16, hot_threshold=10**6
    )
    acts = {a for _, a, _ in report}
    assert "compacted" in acts and "refreshed ledger" in acts, acts
    kept = similarity.embedding_gate_against_index(
        inc, idx, threshold=0.45, round_digits=4, skip_hot=True
    )
    out = _gate_stats(inc, kept, "label", "vecs")
    return _localized(
        spark, out, scratch_dirs=(idx, src, out_dir, ckpt, stage)
    )


@_q(
    "per_source_doc_sample",
    """
    WITH h AS (
      SELECT doc_id, source,
             (('0x' || substr(md5('gsample:' || doc_id),1,15))::BIGINT) AS hk
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
      FROM h
    )
    SELECT source, doc_id FROM r WHERE rn <= 5
    ORDER BY source, doc_id
    """,
    "deterministic per-group reservoir: the k lowest-hash docs per "
    "source — the 'pull k example docs per domain for eval/inspection' "
    "stage. A pure function of the keys (reproducible across engines "
    "and corpus growth only reorders within the hash order), one "
    "partitioned window pass, no global sort",
)
def q_per_source_doc_sample(spark, sf_dir):
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    d = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        TX.portable_hash60(
            F.concat(F.lit("gsample:"), F.col("doc_id").cast("string"))
        ).alias("__hk"),
    )
    return (
        top_k_per_group(
            d, ["source"], "__hk", 5, ascending=True, tiebreakers=["doc_id"]
        )
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


@_q(
    "embedding_dedup_clusters",
    f"""
    WITH RECURSIVE e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
      WHERE {sql_round('list_cosine_similarity(a.v, b.v)', 4)} >= 0.45
    ),
    e AS (
      SELECT id_a AS s, id_b AS t FROM p
      UNION ALL
      SELECT id_b AS s, id_a AS t FROM p
    ),
    reach(s, t) AS (
      SELECT s, t FROM e
      UNION
      SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s
    )
    SELECT v.vec_id, LEAST(v.vec_id, COALESCE(MIN(r.t), v.vec_id)) AS cluster_id
    FROM embeddings v LEFT JOIN reach r ON r.s = v.vec_id
    GROUP BY v.vec_id
    ORDER BY v.vec_id
    """,
    "SEMANTIC dedup clusters: connected components over the "
    "embedding-cosine near-dup graph (the embedding-space sibling of "
    "dedup_clusters_docs' lexical clusters) — SemDeDup-style semantics, "
    "one survivor per cluster of semantically-equivalent docs. "
    "Guaranteed-recall SRP candidates + exact verify build the edges; "
    "min-label propagation labels components in O(diameter) shuffles. "
    "Oracle: exact all-pairs graph + recursive transitive closure",
)
def q_embedding_dedup_clusters(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pairs = similarity.cosine_near_dup_pairs(
        e, threshold=0.40, n_bits=2, n_tables=24
    ).filter(round_half_up(F.col("cosine"), 4) >= 0.45)
    return dedup.connected_components(
        e.select("vec_id"), pairs, id_col="vec_id"
    ).orderBy("vec_id")


@_q(
    "rp_norm_preservation",
    """
    WITH R AS (
      SELECT i, j, CASE h WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r
      FROM (
        SELECT gi.range AS i, gj.range AS j,
               (('0x' || substr(md5('rp:' || gi.range || ':' || gj.range),1,15))::BIGINT) % 6 AS h
        FROM range(64) gi, range(16) gj
      )
      WHERE h IN (0, 1)
    ),
    x AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS i,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
      FROM embeddings
    ),
    y AS (
      SELECT vec_id, j, SUM(xq * r) AS yq
      FROM x JOIN R USING (i)
      GROUP BY vec_id, j
    ),
    sums AS (
      SELECT x.vec_id,
             any_value(x.label) AS label,
             SUM(x.xq * x.xq) AS xq2
      FROM x GROUP BY x.vec_id
    ),
    ysums AS (
      SELECT vec_id, SUM(yq * yq) AS yq2 FROM y GROUP BY vec_id
    ),
    ratios AS (
      SELECT s.label,
             CAST(FLOOR(SQRT((3.0 / 16.0) * yq2 / xq2) * 1000000 + 0.5) AS BIGINT) AS rq
      FROM sums s JOIN ysums USING (vec_id)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           (FLOOR((SUM(rq) / COUNT(*) / 1000000.0) * 10000 + 0.5) / 10000) AS avg_norm_ratio,
           (MIN(rq) / 1000000.0) AS min_norm_ratio,
           (MAX(rq) / 1000000.0) AS max_norm_ratio
    FROM ratios
    GROUP BY label
    ORDER BY label
    """,
    "sparse random projection (Achlioptas JL): 64-d embeddings reduced "
    "to 16-d with a {+1,0,-1} matrix drawn deterministically from a "
    "portable md5 hash — no stored model, 2/3 sparse, formulated as "
    "explode + broadcast matrix join + int64 partial aggregation so "
    "vectors never visit the driver and the grouped sums are "
    "order-independent (exact integer micros). The JL property is the "
    "checked output: per-label norm-preservation ratio "
    "sqrt(3/k x ||y||^2/||x||^2) ~ 1, every sum-of-squares exact int64",
)
def q_rp_norm_preservation(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    reduced = similarity.random_projection(e, out_dims=16, in_dims=64)
    xq = lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast("long")  # noqa: E731
    xq2 = F.aggregate(
        F.transform(F.col("embedding"), lambda x: xq(x) * xq(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # recover the exact integer micros the operator summed (yq/1e6 → yq
    # round-trips exactly for |yq| ≪ 2^52)
    yq2 = F.aggregate(
        F.transform(
            F.col("reduced"),
            lambda y: F.floor(y * 1_000_000 + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    ratios = (
        e.select("vec_id", "label", xq2.alias("__xq2"))
        .join(reduced.select("vec_id", yq2.alias("__yq2")), "vec_id")
        .select(
            "label",
            F.floor(
                F.sqrt(F.lit(3.0 / 16.0) * F.col("__yq2") / F.col("__xq2"))
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__rq"),
        )
    )
    return (
        ratios.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round_half_up(
                F.sum("__rq") / F.count(F.lit(1)) / F.lit(1_000_000.0), 4
            ).alias("avg_norm_ratio"),
            (F.min("__rq") / F.lit(1_000_000.0)).alias("min_norm_ratio"),
            (F.max("__rq") / F.lit(1_000_000.0)).alias("max_norm_ratio"),
        )
        .orderBy("label")
    )


# ===========================================================================
# grouping sets / cube / pivot / unpivot
# ===========================================================================
@_q(
    "embedding_quantize_summary",
    f"""
    WITH q AS (
      SELECT label,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS raw_scale,
             embedding
      FROM embeddings
    ),
    qq AS (
      SELECT label,
             CASE WHEN raw_scale > 0 THEN raw_scale END AS scale,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 / (CASE WHEN raw_scale > 0 THEN raw_scale END) + 0.5) AS BIGINT)) AS qvec
      FROM q
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(qvec[1]) AS BIGINT) AS sum_q0,
           CAST(SUM(list_aggregate(qvec, 'max')) AS BIGINT) AS sum_qmax,
           {sql_round('AVG(scale)', 4)} AS avg_scale
    FROM qq GROUP BY label ORDER BY label
    """,
    "embedding int8 quantization (storage/ANN-candidate op): symmetric "
    "per-vector scale = max|x|, q = round_half_up(x·127/scale) — 4× "
    "smaller candidate payloads, float32 re-rank only for survivors. "
    "float→double promotion plus the shared floor-based rounding makes "
    "the quantized integers bit-identical across engines, so the "
    "summary (integer sums of q[0] and max(q), count, avg scale) "
    "hash-matches the oracle; operator at operators/similarity.py::"
    "quantize_embeddings",
)
def q_embedding_quantize_summary(spark, sf_dir):
    from airline_data_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = table(spark, sf_dir, "embeddings")
    qdf = quantize_embeddings(emb)
    return (
        qdf.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.element_at("__q", 1)).alias("sum_q0"),
            F.sum(F.array_max("__q")).alias("sum_qmax"),
            round_half_up(F.avg("__scale"), 4).alias("avg_scale"),
        )
        .orderBy("label")
    )


@_q(
    "histogram_quantile_prices",
    f"""
    WITH stats AS (
      SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
             MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
      FROM lineitem
    ),
    b AS (
      SELECT LEAST(1023, CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - lo)
                                    / ((hi - lo) / 1024)) AS BIGINT)) AS bin,
             lo, hi
      FROM lineitem, stats
    ),
    h AS (SELECT bin, lo, hi, COUNT(*) AS cnt FROM b GROUP BY bin, lo, hi),
    c AS (
      SELECT bin, lo, hi,
             SUM(cnt) OVER (ORDER BY bin) AS cum,
             SUM(cnt) OVER () AS n
      FROM h
    )
    SELECT q,
           {sql_round('arg_min(lo + (bin + 0.5) * ((hi - lo) / 1024), bin)', 4)} AS estimate
    FROM c, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.95 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) AS qs(q)
    WHERE cum >= q * n
    GROUP BY q
    ORDER BY q
    """,
    "mergeable quantile sketch (the 4th sketch family after HLL/Bloom/"
    "CMS): 1024 equal-width histogram bins — shuffle O(bins) not "
    "O(rows), counters merge by addition across shards — then P50/P95/"
    "P99 as first-qualifying-bin midpoints, error ≤ one bin width. "
    "Unlike approx_percentile's digest this is deterministic IEEE "
    "arithmetic, so the oracle reproduces it bit-for-bit "
    "(operators/sketches.py::histogram_quantiles)",
)
def q_histogram_quantile_prices(spark, sf_dir):
    from airline_data_pipeline_spark.operators.sketches import (
        histogram_quantiles,
    )

    li = table(spark, sf_dir, "lineitem")
    out = histogram_quantiles(li, "l_extendedprice", [0.5, 0.95, 0.99], bins=1024)
    return out.select(
        "q", round_half_up(F.col("estimate"), 4).alias("estimate")
    ).orderBy("q")


@_q(
    "cube_status_priority",
    """
    SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
           COALESCE(o_orderpriority, '__ALL__') AS priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY n DESC, status, priority
    """,
    "cube: all 4 grouping combinations in one pass (engine surface "
    "beyond the reference's two-level A8 rollup)",
)
def q_cube_status_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("__ALL__")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("__ALL__")).alias("priority"),
            "n",
        )
        .orderBy(F.desc("n"), "status", "priority")
    )


@_q(
    "pivot_status_by_priority",
    f"""
    SELECT o_orderpriority AS priority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P,
           {sql_round("SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)", 2)} AS F_value
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    "pivot: status columns per priority row — Spark .pivot() vs the "
    "conditional-aggregation SQL it desugars to",
)
def q_pivot_status_by_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("value"),
        )
    )
    return pivoted.select(
        "priority",
        F.coalesce(F.col("F_n"), F.lit(0)).alias("F"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("O"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("P"),
        round_half_up(F.coalesce(F.col("F_value"), F.lit(0.0)), 2).alias("F_value"),
    ).orderBy("priority")


@_q(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey <= 100
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
    FROM part WHERE p_partkey <= 100
    ORDER BY p_partkey, metric
    """,
    "unpivot/melt: wide→long via stack() (engine surface; SQL twin is "
    "the UNION ALL it desugars to)",
)
def q_unpivot_part_metrics(spark, sf_dir):
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retailprice', p_retailprice) AS (metric, value)"
        ),
    ).orderBy("p_partkey", "metric")


# ===========================================================================
# approximate + exact distributional aggregates
# ===========================================================================
@_q(
    "percentile_quantities",
    f"""
    SELECT l_returnflag,
           {sql_round('quantile_cont(l_quantity, 0.25)', 4)} AS q25,
           {sql_round('quantile_cont(l_quantity, 0.50)', 4)} AS q50,
           {sql_round('quantile_cont(l_quantity, 0.75)', 4)} AS q75
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "exact continuous percentiles (linear interpolation — identical "
    "definition in Spark `percentile` and DuckDB `quantile_cont`)",
)
def q_percentile_quantities(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            round_half_up(F.percentile("l_quantity", 0.25), 4).alias("q25"),
            round_half_up(F.percentile("l_quantity", 0.50), 4).alias("q50"),
            round_half_up(F.percentile("l_quantity", 0.75), 4).alias("q75"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "approx_distinct_bounded",
    """
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_ok
    FROM lineitem
    """,
    "approx_count_distinct sanity: the HLL estimate must land within 5% "
    "of exact (emitted as a checked boolean so the oracle can assert it); "
    "the approx path is the 100 TB profiling primitive",
)
def q_approx_distinct_bounded(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey").cast("double")
                - F.countDistinct("l_partkey")
            )
            / F.countDistinct("l_partkey")
            < 0.05
        ).alias("approx_ok"),
    )


# ===========================================================================
# subqueries / set ops / scalar fns
# ===========================================================================
@_q(
    "in_subquery_filter",
    """
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    "IN-subquery (decorrelated to a semi-join by Catalyst) — exercised "
    "through the spark.sql surface",
)
def q_in_subquery_filter(spark, sf_dir):
    from airline_data_pipeline_spark.io.readers import load_testdata

    load_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@_q(
    "union_all_events_orders_days",
    """
    SELECT day, CAST(SUM(n) AS BIGINT) AS n FROM (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
      UNION ALL
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n FROM orders GROUP BY 1
    ) GROUP BY day
    ORDER BY day
    """,
    "UNION ALL (bag semantics) + re-aggregation across heterogeneous "
    "sources",
)
def q_union_all_events_orders_days(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    a = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    b = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        a.unionAll(b)
        .groupBy("day")
        .agg(F.sum("n").alias("n"))
        .orderBy("day")
    )


@_q(
    "base64_roundtrip",
    """
    SELECT c_custkey,
           base64(encode(c_name)) AS name_b64,
           decode(from_base64(base64(encode(c_name)))) AS name_back
    FROM customer WHERE c_custkey <= 20
    ORDER BY c_custkey
    """,
    "F10: base64 encode/decode roundtrip (the cursor-encoding primitive, "
    "api/app.py:46-58)",
)
def q_base64_roundtrip(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 20)
    b64 = F.base64(F.col("c_name").cast("binary"))
    return c.select(
        "c_custkey",
        b64.alias("name_b64"),
        F.unbase64(b64).cast("string").alias("name_back"),
    ).orderBy("c_custkey")


@_q(
    "static_column_drop",
    """
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
    "P2: static column drop then distinct (api/app.py:171)",
)
def q_static_column_drop(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus", "l_orderkey")
        .drop("l_orderkey")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "seeded_sample",
    """
    SELECT o_orderkey, o_orderdate
    FROM orders
    WHERE (('0x' || substr(md5(o_orderkey::VARCHAR || ':42'),1,15))::BIGINT) % 1000 < 100
    ORDER BY o_orderkey
    """,
    "S8: seeded 10% sample via a deterministic key hash (md5-portable). "
    "Unlike rng-based df.sample(seed), the kept set is a pure function "
    "of the key — invariant under repartitioning, reproducible by any "
    "engine, and stable across runs at 100 TB (sampling.py analog)",
)
def q_seeded_sample(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    h = TX.portable_hash60(
        F.concat(F.col("o_orderkey").cast("string"), F.lit(":42"))
    )
    return (
        o.filter(F.pmod(h, F.lit(1000)) < 100)
        .select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
    )


@_q(
    "range_join_views_after_purchase",
    """
    SELECT p.event_id, COUNT(v.event_id) AS views_within_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts AND epoch_us(v.ts) <= epoch_us(p.ts) + 3600000000::BIGINT
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
    "J4 (interval): views within 1h after each purchase — bucketized "
    "range join (2-bucket explode + equi-join + exact filter), no "
    "per-key cross product at scale",
)
def q_range_join_views_after_purchase(spark, sf_dir):
    from airline_data_pipeline_spark.operators.rangejoin import range_join_after

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("ts"), F.col("event_id").alias("view_id")
    )
    pairs = range_join_after(
        purchases, views, key="user_id", window_seconds=3600, right_cols=["view_id"]
    )
    counts = pairs.groupBy("event_id").agg(
        F.count("view_id_r").alias("views_within_1h")
    )
    # left join semantics: purchases with zero matches still appear
    return (
        purchases.select("event_id")
        .join(counts, "event_id", "left")
        .select(
            "event_id", F.coalesce("views_within_1h", F.lit(0)).alias("views_within_1h")
        )
        .orderBy("event_id")
    )


@_q(
    "dense_rank_ntile",
    """
    SELECT o_orderkey, o_orderpriority,
           DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS dr,
           NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS quartile
    FROM orders
    WHERE o_orderkey <= 2000
    ORDER BY o_orderpriority, dr, o_orderkey
    """,
    "W: dense_rank + ntile windows with deterministic ordering",
)
def q_dense_rank_ntile(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.dense_rank().over(w).cast("long").alias("dr"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    ).orderBy("o_orderpriority", "dr", "o_orderkey")


# ===========================================================================
# final breadth: classic OLAP shapes + remaining scalar surface
# ===========================================================================
@_q(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {sql_round('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) > DATE '1996-01-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective join chain → grouped revenue → top-k "
    "(bench-relevant: filter pushdown on both fact and dims)",
)
def q_shipping_priority(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1996-01-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1996-01-01")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_date")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@_q(
    "above_customer_avg",
    """
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders o
    WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    "correlated scalar subquery (Catalyst decorrelates to an aggregate "
    "+ join); orders above their own customer's average price",
)
def q_above_customer_avg(spark, sf_dir):
    from airline_data_pipeline_spark.io.readers import load_testdata

    load_testdata(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM orders o
        WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@_q(
    "monthly_order_stats",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS n,
           {sql_round('SUM(o_totalprice)', 2)} AS month_value
    FROM orders
    GROUP BY 1, 2
    ORDER BY yr, mo
    """,
    "F3: date-part extraction + calendar aggregation",
)
def q_monthly_order_stats(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_half_up(F.sum("o_totalprice"), 2).alias("month_value"),
        )
        .orderBy("yr", "mo")
    )


@_q(
    "like_and_regex_filters",
    """
    SELECT p_partkey, p_type, p_brand
    FROM part
    WHERE p_type LIKE '%AR%'
      AND regexp_matches(p_brand, 'Brand#[12]$')
    ORDER BY p_partkey
    """,
    "F1-adjacent string predicates: LIKE + regexp filter. Patterns "
    "retuned to the driver's synthetic vocabulary (p_type is LARGE/"
    "STANDARD/... — TPC-H's '%BRASS%' matched nothing, so the r4 "
    "driver row was a vacuous 0=0): '%AR%' hits LARGE+STANDARD and the "
    "anchored regex keeps only Brand#1/Brand#2 — both predicates "
    "verified selective AND non-empty at sf0.001 and sf0.01",
)
def q_like_and_regex_filters(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_type").like("%AR%")
            & F.col("p_brand").rlike("Brand#[12]$")
        )
        .select("p_partkey", "p_type", "p_brand")
        .orderBy("p_partkey")
    )


@_q(
    "first_last_order_value",
    f"""
    SELECT DISTINCT o_custkey,
           {sql_round('FIRST_VALUE(o_totalprice) OVER w', 2)} AS first_price,
           {sql_round('LAST_VALUE(o_totalprice)  OVER w', 2)} AS last_price
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey
    """,
    "W: first_value/last_value over a full-partition frame — each "
    "customer's first and latest order price",
)
def q_first_last_order_value(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            round_half_up(F.first("o_totalprice").over(w), 2).alias("first_price"),
            round_half_up(F.last("o_totalprice").over(w), 2).alias("last_price"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


@_q(
    "explode_embedding_stats",
    f"""
    SELECT pos,
           {sql_round('AVG(val)', 6)} AS avg_val,
           {sql_round('MIN(val)', 6)} AS min_val,
           {sql_round('MAX(val)', 6)} AS max_val
    FROM (
      SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings WHERE vec_id < 100
    )
    GROUP BY pos
    ORDER BY pos
    """,
    "array explode with position (posexplode ↔ unnest+generate_subscripts): "
    "per-dimension embedding statistics — the profiling pass of an "
    "embedding-quality pipeline",
)
def q_explode_embedding_stats(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    exploded = e.select(F.posexplode("embedding").alias("pos0", "val")).select(
        (F.col("pos0") + 1).cast("long").alias("pos"),  # SQL subscripts are 1-based
        F.col("val").cast("double").alias("val"),
    )
    return (
        exploded.groupBy("pos")
        .agg(
            round_half_up(F.avg("val"), 6).alias("avg_val"),
            round_half_up(F.min("val"), 6).alias("min_val"),
            round_half_up(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("pos")
    )


# ===========================================================================
# engine ops exercised through the registry (P3 two-phase)
# ===========================================================================
@_q(
    "drop_mostly_null_survivors",
    """
    SELECT 6 AS n_kept_columns
    """,
    "P3: data-dependent null-threshold column drop — survivor count on "
    "events (no column exceeds 70% nulls in this corpus, so all 6 survive; "
    "the thresholding logic itself is unit-tested with null-heavy fixtures)",
)
def q_drop_mostly_null_survivors(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    fractions = null_fractions(ev)
    kept = [c for c in ev.columns if fractions[c] <= 0.7]
    return local_df(spark, [(len(kept),)], "n_kept_columns int")


@_q(
    "range_frame_customer_spend",
    f"""
    SELECT o_orderkey, o_custkey,
           {sql_round(
               "SUM(o_totalprice) OVER (PARTITION BY o_custkey "
               "ORDER BY CAST(o_orderdate AS DATE) "
               "RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)",
               2,
           )} AS spend_30d
    FROM orders
    ORDER BY o_orderkey
    """,
    "W3 (range variant): per-customer trailing-30-day spend via a RANGE "
    "interval frame — value-based, not row-count-based; Spark orders by "
    "days-since-epoch with rangeBetween(-30, 0), both bounds inclusive "
    "in both engines",
)
def q_range_frame_customer_spend(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")))
        .rangeBetween(-30, 0)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            round_half_up(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "percent_rank_suppliers",
    f"""
    SELECT s_suppkey,
           {sql_round('PERCENT_RANK() OVER (ORDER BY s_acctbal)', 6)} AS pct_rank,
           {sql_round('CUME_DIST() OVER (ORDER BY s_acctbal)', 6)} AS cume
    FROM supplier
    ORDER BY s_suppkey
    """,
    "W-surface: distribution window functions percent_rank + cume_dist "
    "over supplier balances (ties share a rank in both engines)",
)
def q_percent_rank_suppliers(spark, sf_dir):
    s = table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal")
    return s.select(
        "s_suppkey",
        round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_half_up(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("s_suppkey")


@_q(
    "nation_customer_roster",
    """
    SELECT c_nationkey AS nation_key,
           COUNT(*) AS n_customers,
           string_agg(c_name, ',' ORDER BY c_name) AS roster
    FROM customer
    WHERE c_acctbal > 9000
    GROUP BY c_nationkey
    ORDER BY nation_key
    """,
    "F-surface: ordered string aggregation — string_agg(ORDER BY) ↔ "
    "array_join(array_sort(collect_list())); deterministic because the "
    "list is sorted before joining",
)
def q_nation_customer_roster(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        c.groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "roster"
            ),
        )
        .orderBy("nation_key")
    )


@_q(
    "stats_moments",
    f"""
    SELECT l_returnflag,
           {sql_round('STDDEV_SAMP(l_extendedprice)', 4)} AS price_sd,
           {sql_round('STDDEV_POP(l_extendedprice)', 4)} AS price_sd_pop,
           {sql_round('CORR(l_quantity, l_extendedprice)', 6)} AS qty_price_corr,
           {sql_round('COVAR_SAMP(l_quantity, l_extendedprice)', 4)} AS qty_price_cov,
           {sql_round('COVAR_POP(l_quantity, l_extendedprice)', 4)} AS qty_price_cov_pop
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "statistical aggregate surface: sample/population stddev, Pearson "
    "correlation, sample/population covariance per return flag — the "
    "profiling aggregates a data-quality pass runs at scale",
)
def q_stats_moments(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            round_half_up(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
            round_half_up(F.stddev_pop("l_extendedprice"), 4).alias(
                "price_sd_pop"
            ),
            round_half_up(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
            round_half_up(
                F.covar_samp("l_quantity", "l_extendedprice"), 4
            ).alias("qty_price_cov"),
            round_half_up(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_cov_pop"
            ),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "props_key_counts",
    """
    SELECT key, COUNT(*) AS n
    FROM (SELECT unnest(json_keys(props)) AS key FROM events)
    GROUP BY key
    ORDER BY key
    """,
    "F11 + map functions: parse the props JSON column to map<string,string>, "
    "explode its keys (map_keys ↔ json_keys+unnest), count key frequency — "
    "the schema-discovery pass over semi-structured event payloads",
)
def q_props_key_counts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.explode(
                F.map_keys(F.from_json("props", "map<string,string>"))
            ).alias("key")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("key")
    )


@_q(
    "forecast_revenue_change",
    f"""
    SELECT {sql_round('SUM(l_extendedprice * l_discount)', 2)} AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: tight multi-predicate scan + global conditional sum "
    "— every predicate pushes to the parquet scan, no shuffle at all "
    "beyond the single-row final aggregate",
)
def q_forecast_revenue_change(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1995-01-01"), F.lit("1995-12-31"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        round_half_up(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
        ).alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_q(
    "median_price_by_segment",
    f"""
    SELECT c_mktsegment,
           {sql_round('MEDIAN(o_totalprice)', 2)} AS median_price,
           COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    "exact median per group (interpolating, both engines) over a "
    "fact-dim join — the robust-center statistic a quality pass pairs "
    "with stats_moments",
)
def q_median_price_by_segment(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            round_half_up(F.median("o_totalprice"), 2).alias("median_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "session_window_counts",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    "§2.8: Spark's native session_window operator hash-checked against a "
    "first-principles lag/cumsum sessionization in SQL — window end is "
    "exclusive, so a gap of exactly 30 minutes starts a new session "
    "(>= in the oracle's new-session predicate)",
)
def q_session_window_counts(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
        .orderBy("user_id", "session_start")
    )


@_q(
    "streaming_session_window_counts",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    "streaming §2.8 (STREAM side, driver-checkable): session windows "
    "maintained by the streaming engine's session-merge state — events "
    "replayed through a file micro-batch source with a watermark, "
    "session_window aggregation, AvailableNow drain in complete mode; "
    "must equal the batch lag/cumsum sessionization the oracle runs",
)
def q_streaming_session_window_counts(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        session_counts,
    )

    ev = table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    agg = session_counts(
        read_event_stream(spark, src), gap="30 minutes", watermark="30 minutes"
    )
    name = "stream_sessions_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    run_available_now(agg, name, output_mode="complete", checkpoint_dir=ckpt)
    out = (
        spark.table(name)
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.col("n_events").alias("n"),
        )
        .orderBy("user_id", "session_start")
    )
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "streaming_user_totals_stateful",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_round('SUM(value)', 4)} AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    "streaming §2.8/U3 (STREAM side): custom stateful operator — per-user "
    "running totals maintained across micro-batches by "
    "applyInPandasWithState (Arrow-batched per-key GroupState). The "
    "AvailableNow replay's final state per user must equal the batch "
    "aggregate the oracle computes; the update-mode sink may emit one row "
    "per key per micro-batch, so the final state is the max-count row",
)
def q_streaming_user_totals_stateful(spark, sf_dir):
    import tempfile
    import uuid

    from airline_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        running_user_totals,
    )

    ev = table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    totals = running_user_totals(read_event_stream(spark, src))
    name = "stream_totals_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_graft_stream_ckpt_")
    run_available_now(totals, name, output_mode="update", checkpoint_dir=ckpt)
    final = top_k_per_group(
        spark.table(name), ["user_id"], "n_events", 1, tiebreakers=[]
    )
    out = final.select(
        "user_id",
        "n_events",
        round_half_up(F.col("total_value"), 4).alias("total_value"),
    ).orderBy("user_id")
    return _localized(spark, out, drop_view=name, scratch_dirs=(src, ckpt))


@_q(
    "regression_price_on_qty",
    f"""
    SELECT l_returnflag,
           {sql_round('REGR_SLOPE(l_extendedprice, l_quantity)', 4)} AS slope,
           {sql_round('REGR_INTERCEPT(l_extendedprice, l_quantity)', 4)} AS intercept,
           {sql_round('REGR_R2(l_extendedprice, l_quantity)', 6)} AS r2,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "linear-regression aggregates per group (OLS slope/intercept/R², "
    "non-null pair count) — single-pass distributed fit, the cheap "
    "trend-model a feature-engineering pass runs per segment",
)
def q_regression_price_on_qty(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            round_half_up(F.regr_slope(y, x), 4).alias("slope"),
            round_half_up(F.regr_intercept(y, x), 4).alias("intercept"),
            round_half_up(F.regr_r2(y, x), 6).alias("r2"),
            F.regr_count(y, x).cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "bool_aggregates",
    """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "boolean aggregates: universal / existential predicates per group "
    "(bool_and ↔ every, bool_or ↔ some) — constraint checks as "
    "aggregations, the expect() validation primitive at scale",
)
def q_bool_aggregates(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "large_quantity_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 280
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           {sql_round('o_totalprice', 2)} AS total_price,
           {sql_round('total_qty', 2)} AS total_qty
    FROM orders
    JOIN big ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_orderkey
    """,
    "TPC-H Q18 shape: filter a fact table by an aggregated-subquery "
    "predicate (orders whose summed lineitem quantity exceeds a "
    "threshold), then join the survivors back to their dimension — the "
    "aggregate runs first so only qualifying keys join",
)
def q_large_quantity_orders(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 280)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            round_half_up(F.col("o_totalprice"), 2).alias("total_price"),
            round_half_up(F.col("total_qty"), 2).alias("total_qty"),
        )
        .orderBy("o_orderkey")
    )


@_q(
    "calendar_functions",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS bill_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(CAST(o_orderdate AS DATE) + 30 AS DATE) AS due_date,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
             AS days_since_epoch_95
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
    "F3 calendar surface: quarter, month-clamped add_months (Jan 31 + 1 "
    "month = Feb 28 in both engines), last_day, day offset, datediff "
    "from an anchor",
)
def q_calendar_functions(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.quarter(d).cast("int").alias("qtr"),
        F.add_months(d, 3).alias("bill_date"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01")).cast("int").alias(
            "days_since_epoch_95"
        ),
    ).orderBy("o_orderkey")


@_q(
    "recent_orders_per_customer",
    """
    SELECT o_custkey AS cust_key,
           array_to_string(
             (list(o_orderkey ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC))[1:3],
             ','
           ) AS recent_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY cust_key
    """,
    "array-of-structs aggregation sorted by another column: the 3 most "
    "recent order ids per customer — collect_list(struct) + array_sort + "
    "slice + transform ↔ list(ORDER BY)[1:3]; ties broken by order id "
    "descending on both sides. Output scalar-ized (comma-joined string) "
    "so hash-comparison harnesses that sort column values can handle it.",
)
def q_recent_orders_per_customer(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    # sort key: (-days, -orderkey) so array_sort's ascending order yields
    # newest-first with deterministic ties
    item = F.struct(
        (-F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))).alias(
            "neg_day"
        ),
        (-F.col("o_orderkey")).alias("neg_key"),
    )
    return (
        o.groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(F.collect_list(item).alias("items"))
        .select(
            "cust_key",
            F.array_join(
                F.transform(
                    F.slice(F.array_sort("items"), 1, 3),
                    lambda s: (-s["neg_key"]).cast("string"),
                ),
                ",",
            ).alias("recent_orders"),
        )
        .orderBy("cust_key")
    )


@_q(
    "string_functions",
    """
    SELECT p_partkey,
           reverse(p_brand) AS brand_rev,
           translate(p_type, 'AEO', '430') AS type_l33t,
           repeat('*', CAST(p_size % 4 AS INT)) AS stars,
           CAST(strpos(p_name, 'a') AS INT) AS first_a,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           CAST(levenshtein(p_type, 'PROMO') AS INT) AS dist_to_promo,
           split_part(p_brand, '#', 2) AS brand_num
    FROM part
    ORDER BY p_partkey
    """,
    "F1/F9-adjacent string surface: reverse, translate, repeat, "
    "position (strpos ↔ instr, 1-based, 0 when absent), lpad, "
    "levenshtein edit distance (fuzzy-match primitive), split_part",
)
def q_string_functions(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.reverse("p_brand").alias("brand_rev"),
        F.translate("p_type", "AEO", "430").alias("type_l33t"),
        F.repeat(F.lit("*"), F.pmod("p_size", F.lit(4)).cast("int")).alias(
            "stars"
        ),
        F.instr("p_name", "a").cast("int").alias("first_a"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.levenshtein("p_type", F.lit("PROMO")).cast("int").alias(
            "dist_to_promo"
        ),
        F.split_part("p_brand", F.lit("#"), F.lit(2)).alias("brand_num"),
    ).orderBy("p_partkey")


@_q(
    "media_feature_extraction",
    """
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_hash
    FROM documents
    ORDER BY media_id
    """,
    "§2.10 multimodal: binary payload column (utf-8 bytes standing in for "
    "image/audio/video) through the Arrow-batched mapInPandas "
    "decode/featurize stage — byte counts and content hashes computed in "
    "Python are hash-checked against the oracle (DuckDB sha256(VARCHAR) "
    "hashes the utf-8 bytes), proving the batch plumbing bit-exact",
)
def q_media_feature_extraction(spark, sf_dir):
    from airline_data_pipeline_spark.multimodal.binaryops import extract_features

    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.pmod("doc_id", F.lit(3)) == 0, "image")
        .when(F.pmod("doc_id", F.lit(3)) == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return (
        extract_features(media, dim=16)
        .select("media_id", "kind", "n_bytes", "content_hash")
        .orderBy("media_id")
    )


@_q(
    "video_frame_sample_counts",
    """
    SELECT doc_id AS media_id,
           CAST(ceil(n_chars / 250.0) AS BIGINT) AS n_frames,
           sha256(text || ':frame:0') AS first_frame_hash
    FROM documents
    WHERE CAST(doc_id % 3 AS INT) = 2 AND n_chars > 0
    ORDER BY media_id
    """,
    "§2.10 multimodal: video frame sampling through the fan-out "
    "mapInPandas stage (multimodal/binaryops.py::sample_frames) — one "
    "row per 250 ms sampled timestamp, fan-out INSIDE the Arrow batch, "
    "never a JVM explode of pre-materialized frames. Per-video frame "
    "counts (= ceil(duration/step)) and the deterministic frame-0 "
    "digest are hash-checked against the oracle recomputing both from "
    "the payload bytes",
)
def q_video_frame_sample_counts(spark, sf_dir):
    from airline_data_pipeline_spark.multimodal.binaryops import sample_frames

    d = table(spark, sf_dir, "documents")
    media = d.filter(F.pmod("doc_id", F.lit(3)) == 2).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.col("n_chars").cast("int").alias("duration_ms"),
            F.lit("utf8").alias("codec"),
        ).alias("meta"),
    )
    frames = sample_frames(media, every_ms=250)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.min_by(F.lower(F.hex("frame")), F.col("frame_idx")).alias(
                "first_frame_hash"
            ),
        )
        .orderBy("media_id")
    )


@_q(
    "image_resize_batch",
    """
    SELECT doc_id AS media_id,
           CAST(16 AS BIGINT) AS n_bytes,
           substr(sha256(text || ':32x32'), 1, 32) AS payload_prefix
    FROM documents
    WHERE CAST(doc_id % 3 AS INT) = 0
    ORDER BY media_id
    """,
    "§2.10 multimodal: the image-resize mapInPandas stage "
    "(multimodal/binaryops.py::resize_images) over utf-8 payloads — "
    "re-encoded payload size tracks the target geometry (32×32 → 16 "
    "fake-pixel bytes) and the payload begins with the deterministic "
    "sha256(payload ‖ ':32x32') seed, which the oracle recomputes; "
    "proves the in-place re-encode + meta update plumbing batch-exact",
)
def q_image_resize_batch(spark, sf_dir):
    from airline_data_pipeline_spark.multimodal.binaryops import resize_images

    d = table(spark, sf_dir, "documents")
    media = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.col("n_chars").cast("int").alias("duration_ms"),
            F.lit("utf8").alias("codec"),
        ).alias("meta"),
    )
    resized = resize_images(media, 32, 32)
    return resized.select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring("payload", 1, 16))).alias("payload_prefix"),
    ).orderBy("media_id")


@_q(
    "lang_id_confusion",
    f"""
    WITH t AS (SELECT lang AS label, text, {_DUCK_LTOKS} AS ltoks FROM documents)
    SELECT label, {_DUCK_LANG} AS predicted, COUNT(*) AS n
    FROM t GROUP BY label, predicted ORDER BY label, predicted
    """,
    "§2.10 text analysis: n-gram/script language-ID heuristic vs the "
    "labeled lang column — confusion counts per (label, predicted). "
    "Explicit unicode code-point ranges (not \\p classes) evaluate "
    "identically under Java regex and RE2, so the oracle recomputes the "
    "heuristic exactly",
)
def q_lang_id_confusion(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.col("lang").alias("label"),
            TX.lang_id_heuristic(F.col("text")).alias("predicted"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "predicted")
    )


# ===========================================================================
# classic analytic shapes (TPC-H-derived) — widen the §2.3/§2.4 surface
# ===========================================================================
@_q(
    "exists_late_shipment",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TPC-H Q4 shape: correlated EXISTS (left-semi join with a non-equi "
    "conjunct) + grouped count — orders with a lineitem shipped >60 days "
    "after the order date",
)
def q_exists_late_shipment(spark, sf_dir):
    o = table(spark, sf_dir, "orders").withColumn(
        "o_date", F.col("o_orderdate").cast("date")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_date")
    )
    late = o.filter(
        F.col("o_date").between(F.lit("1995-01-01"), F.lit("1995-12-31"))
    ).join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.ship_date > F.date_add(F.col("o_date"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_q(
    "returned_item_customers",
    f"""
    SELECT c_custkey, c_name, n_name,
           {sql_round("SUM(l_extendedprice * (1 - l_discount))", 2)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: 4-table star join (fact ⋈ two dims + dim-of-dim), "
    "filtered grouped revenue, top-20 with deterministic tiebreaker; "
    "nation/customer sides broadcast",
)
def q_returned_item_customers(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_q(
    "priority_counts_by_linestatus",
    """
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    "TPC-H Q12 shape: fact-side filter + join + IN-list conditional "
    "counts (the A6 conditional-count pattern over a join)",
)
def q_priority_counts_by_linestatus(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1995-01-01"), F.lit("1995-12-31"))
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@_q(
    "promo_revenue_by_month",
    f"""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
           CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS mo,
           {sql_round(
               "100.0 * SUM(CASE WHEN p_type = 'PROMO' "
               "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
               "/ SUM(l_extendedprice * (1 - l_discount))",
               2,
           )} AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
    ORDER BY yr, mo
    """,
    "TPC-H Q14 shape: conditional-sum ratio (promo revenue share) per "
    "calendar month; part side broadcast",
)
def q_promo_revenue_by_month(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("yr"),
            F.month("l_shipdate").cast("long").alias("mo"),
        )
        .agg(
            round_half_up(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                2,
            ).alias("promo_pct")
        )
        .orderBy("yr", "mo")
    )


@_q(
    "top_supplier_by_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_rev_raw
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, {sql_round("total_rev_raw", 2)} AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev_raw = (SELECT MAX(total_rev_raw) FROM rev)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15 shape: aggregate-then-select-argmax — per-supplier revenue "
    "view joined back against its own scalar MAX (window-max in Spark, "
    "scalar subquery in SQL)",
)
def q_top_supplier_by_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1995-01-01"), F.lit("1995-12-31"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_rev_raw"
        )
    )
    # scalar-max over the (small, O(suppliers)) aggregate — a single-
    # partition window here is fine at any scale because the input is
    # already one row per supplier, not per lineitem
    best = rev.withColumn(
        "mx", F.max("total_rev_raw").over(Window.partitionBy(F.lit(1)))
    ).filter(F.col("total_rev_raw") == F.col("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(best, s.s_suppkey == best.l_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            round_half_up(F.col("total_rev_raw"), 2).alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


@_q(
    "having_part_demand",
    f"""
    SELECT l_partkey, COUNT(*) AS n_lines,
           {sql_round("SUM(l_quantity)", 2)} AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(*) >= 35
    ORDER BY l_partkey
    """,
    "A4+post-agg filter: grouped count with HAVING (filter over the "
    "aggregate, pushed after the partial/final agg)",
)
def q_having_part_demand(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            round_half_up(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.col("n_lines") >= 35)
        .orderBy("l_partkey")
    )


@_q(
    "grouping_sets_order_counts",
    """
    SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
           COALESCE(o_orderpriority, '__ALL__') AS priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority
    """,
    "grouping sets: explicit subtotal combinations (beyond cube/rollup) — "
    "per-status, per-priority, and grand total in one pass",
)
def q_grouping_sets_order_counts(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("__ALL__")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("__ALL__")).alias(
                "priority"
            ),
            "n",
        )
        .orderBy("status", "priority")
    )


@_q(
    "grouped_zscore_pandas",
    f"""
    SELECT o_orderkey, o_orderpriority,
           {sql_round(
               "(o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderpriority))"
               " / STDDEV(o_totalprice) OVER (PARTITION BY o_orderpriority)",
               3,
           )} AS z
    FROM orders
    ORDER BY o_orderkey
    """,
    "U3 grouped-map surface: per-priority z-score of order price via "
    "Arrow-batched applyInPandas (pandas mean/std ddof=1 ≡ SQL window "
    "AVG/STDDEV_SAMP) — the one hash-checked Python-side operator; one "
    "shuffle on the group key, Arrow both ways",
)
def q_grouped_zscore_pandas(spark, sf_dir):
    import pandas as pd

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["o_totalprice"]
        pdf = pdf.assign(z=(x - x.mean()) / x.std(ddof=1))
        return pdf[["o_orderkey", "o_orderpriority", "z"]]

    out = o.groupBy("o_orderpriority").applyInPandas(
        zscore, schema="o_orderkey long, o_orderpriority string, z double"
    )
    return out.select(
        "o_orderkey", "o_orderpriority", round_half_up(F.col("z"), 3).alias("z")
    ).orderBy("o_orderkey")


@_q(
    "grouped_corr_arrow",
    """
    WITH x AS (
      SELECT label,
             CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq,
             CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS yq
      FROM embeddings
    ),
    s AS (
      SELECT label, COUNT(*) AS n,
             SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
             SUM(CAST(xq AS HUGEINT) * xq) AS sxx,
             SUM(CAST(xq AS HUGEINT) * yq) AS sxy,
             SUM(CAST(yq AS HUGEINT) * yq) AS syy
      FROM x GROUP BY label
    )
    SELECT label, CAST(n AS BIGINT) AS n,
           (FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
                   / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000 + 0.5)
            / 1000000) AS corr01
    FROM s
    ORDER BY label
    """,
    "U3 Arrow-native grouped map (applyInArrow, the zero-pandas tier "
    "of the grouped-map surface): per-label Pearson correlation of "
    "embedding components 0 and 1. Moments accumulate as exact Python "
    "big-ints over integer-micro quantized inputs, so the result is "
    "bit-stable regardless of row order — the oracle recomputes the "
    "same formula with HUGEINT sums. One shuffle on the group key, "
    "Arrow both directions, no pandas dependency in the worker path",
)
def q_grouped_corr_arrow(spark, sf_dir):
    import math

    import pyarrow as pa

    e = table(spark, sf_dir, "embeddings").select("label", "embedding")

    def corr_of(tbl: pa.Table) -> pa.Table:
        label = tbl.column("label")[0].as_py()
        n = sx = sy = sxx = sxy = syy = 0
        for vec in tbl.column("embedding").to_pylist():
            xq = math.floor(float(vec[0]) * 1_000_000 + 0.5)
            yq = math.floor(float(vec[1]) * 1_000_000 + 0.5)
            n += 1
            sx += xq
            sy += yq
            sxx += xq * xq
            sxy += xq * yq
            syy += yq * yq
        num = n * sxy - sx * sy
        den = float(n * sxx - sx * sx) * float(n * syy - sy * sy)
        corr = None
        if den > 0:
            corr = math.floor(float(num) / math.sqrt(den) * 1_000_000 + 0.5) / 1_000_000
        return pa.table(
            {"label": [label], "n": [n], "corr01": [corr]},
            schema=pa.schema(
                [("label", pa.int64()), ("n", pa.int64()), ("corr01", pa.float64())]
            ),
        )

    return (
        e.groupBy("label")
        .applyInArrow(corr_of, schema="label long, n long, corr01 double")
        .orderBy("label")
    )


@_q(
    "anti_join_new_docs",
    """
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents r
      WHERE r.source = 'src0' AND r.text = d.text
    )
    ORDER BY d.doc_id
    """,
    "J3 dedup-against-reference: left-anti join on exact content — keep "
    "only documents whose text does not appear in the reference set "
    "(source src0); the incremental-ingest dedup primitive",
)
def q_anti_join_new_docs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == "src0").select(F.col("text").alias("ref_text"))
    return (
        d.join(ref, d.text == ref.ref_text, "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _gate_stats(
    inc: DataFrame, kept: DataFrame, key: str, prefix: str
) -> DataFrame:
    """Per-group (in, kept, dropped) summary shared by the four gate
    queries — one block to keep their result shapes from drifting."""
    kc = kept.groupBy(key).agg(F.count(F.lit(1)).alias(f"{prefix}_kept"))
    return (
        inc.groupBy(key)
        .agg(F.count(F.lit(1)).alias(f"{prefix}_in"))
        .join(kc, key, "left")
        .select(
            key,
            f"{prefix}_in",
            F.coalesce(f"{prefix}_kept", F.lit(0)).alias(f"{prefix}_kept"),
            (
                F.col(f"{prefix}_in") - F.coalesce(f"{prefix}_kept", F.lit(0))
            ).alias(f"{prefix}_dropped"),
        )
        .orderBy(key)
    )


# Shared oracle of the three cross-corpus gate queries (direct,
# via-stored-index, and streaming): ONE exhaustive cross-set Jaccard
# ground truth, so the three paths can never drift apart — each must
# reproduce exactly this table.
_DUCK_CROSS_GATE_ORACLE = f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (
      SELECT DISTINCT CASE WHEN a.source = 'src0' THEN jac.id_b
                           ELSE jac.id_a END AS doc_id
      FROM jac JOIN documents a ON a.doc_id = jac.id_a
               JOIN documents b ON b.doc_id = jac.id_b
      WHERE j >= 0.7 AND (a.source = 'src0') <> (b.source = 'src0')
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN du.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents d LEFT JOIN dups du USING (doc_id)
    WHERE d.source <> 'src0'
    GROUP BY d.source ORDER BY d.source
"""


@_q(
    "incremental_minhash_dedup",
    _DUCK_CROSS_GATE_ORACLE,
    "incremental-ingest near-dup gate: each non-src0 batch is minhash-"
    "banded with the SAME seeds as the frozen src0 reference corpus; "
    "candidates come only from cross-set bucket collisions and are "
    "verified with exact shingle Jaccard ≥ 0.7 — the oracle recomputes "
    "cross-set Jaccard exhaustively, so the row proves LSH recall on "
    "this corpus, per-source kept/dropped counts",
)
def q_incremental_minhash_dedup(spark, sf_dir):
    # barrier=False: heavy per-row work here is shingle/token
    # PROJECTION (never pushed below the exchange); the next op is a
    # cheap filter that belongs at the scan. Interleaved A/B (5 reps,
    # sf0.1): the barrier costs this shape 3-7% and buys nothing.
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(F.col("source") != "src0")
    kept = dedup.dedup_minhash_against_reference(
        inc, ref, threshold=0.7, num_hashes=32, bands=16
    )
    return _gate_stats(inc, kept, "source", "docs")


@_q(
    "incremental_dedup_via_index",
    _DUCK_CROSS_GATE_ORACLE,
    "the production shape of the incremental near-dup gate: the src0 "
    "reference corpus is banded ONCE into a parquet LSH index (buckets "
    "+ shingle sets + a param meta table), then the batch gates against "
    "the STORED index — the index is never shuffled (batch keys and "
    "candidate pairs broadcast against two index scans); same oracle as "
    "incremental_minhash_dedup, so a round-trip through the artifact "
    "must change nothing",
)
def q_incremental_dedup_via_index(spark, sf_dir):
    import tempfile

    # barrier=False: heavy per-row work here is shingle/token
    # PROJECTION (never pushed below the exchange); the next op is a
    # cheap filter that belongs at the scan. Interleaved A/B (5 reps,
    # sf0.1): the barrier costs this shape 3-7% and buys nothing.
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(F.col("source") != "src0")
    root = tempfile.mkdtemp(prefix="spark_graft_mhidx_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16)
    kept = dedup.dedup_minhash_against_index(inc, root, threshold=0.7)
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "incremental_dedup_via_merged_index",
    f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (
      SELECT DISTINCT CASE WHEN a.source IN ('src0', 'src1')
                           THEN jac.id_b ELSE jac.id_a END AS doc_id
      FROM jac JOIN documents a ON a.doc_id = jac.id_a
               JOIN documents b ON b.doc_id = jac.id_b
      WHERE j >= 0.7
        AND (a.source IN ('src0', 'src1')) <> (b.source IN ('src0', 'src1'))
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN du.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents d LEFT JOIN dups du USING (doc_id)
    WHERE d.source NOT IN ('src0', 'src1')
    GROUP BY d.source ORDER BY d.source
    """,
    "MinHash index LIFECYCLE (VERDICT r10 #4): the frozen corpus GROWS "
    "— the index is built on src0 only, then the src1 batch is "
    "appended via append_to_minhash_index (shingled+banded with the "
    "index's OWN meta params, landed as new bucket/shingle files; the "
    "stored tables are never read or reshuffled, so append cost is "
    "O(batch) at any index size). The remaining 18 sources gate "
    "against the merged index; the oracle recomputes cross-set "
    "Jaccard exhaustively against src0 UNION src1, so the appended "
    "artifact must behave exactly like an index built from scratch on "
    "the union corpus — the ingest-then-admit loop of a living "
    "training corpus",
)
def q_incremental_dedup_via_merged_index(spark, sf_dir):
    import tempfile

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") == "src1")
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    root = tempfile.mkdtemp(prefix="spark_graft_mhmerge_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16)
    dedup.append_to_minhash_index(batch, root)
    kept = dedup.dedup_minhash_against_index(inc, root, threshold=0.7)
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "incremental_dedup_skip_hot_cold_ledger",
    f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (
      SELECT DISTINCT CASE WHEN a.source IN ('src0', 'src1')
                           THEN jac.id_b ELSE jac.id_a END AS doc_id
      FROM jac JOIN documents a ON a.doc_id = jac.id_a
               JOIN documents b ON b.doc_id = jac.id_b
      WHERE j >= 0.7
        AND (a.source IN ('src0', 'src1')) <> (b.source IN ('src0', 'src1'))
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN du.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents d LEFT JOIN dups du USING (doc_id)
    WHERE d.source NOT IN ('src0', 'src1')
    GROUP BY d.source ORDER BY d.source
    """,
    "the minhash index gate's skew guard end-to-end on the driver's "
    "box (the r13 ledger had unit tests but no driver-checked row): "
    "build on src0, append src1, refresh_hot_buckets (now stamping "
    "banding_gen per row), then gate with skip_hot=True — ledger "
    "load, the generation-match validation, and the broadcast "
    "anti-join on the batch's band keys all execute. The hot "
    "threshold sits above any stored bucket's occupancy, so the "
    "ledger is COLD and the guarded gate must equal the exhaustive "
    "Jaccard oracle exactly (no false skips); actual skipping and the "
    "stale-generation refusal are pinned by "
    "tests/test_fsck.py::test_hot_bucket_ledger_skips_boilerplate_and_guards "
    "and ::test_fsck_detects_stale_generation_hot_ledger (SRP-space / "
    "crash facts no SQL can recompute)",
)
def q_incremental_dedup_skip_hot_cold_ledger(spark, sf_dir):
    import tempfile

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") == "src1")
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    root = tempfile.mkdtemp(prefix="spark_graft_mhskiphot_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16)
    dedup.append_to_minhash_index(batch, root)
    n_hot = dedup.refresh_hot_buckets(spark, root, hot_threshold=10**6)
    assert n_hot == 0  # cold by construction at every SF
    kept = dedup.dedup_minhash_against_index(
        inc, root, threshold=0.7, skip_hot=True
    )
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "incremental_dedup_via_folded_index",
    f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (
      SELECT DISTINCT CASE WHEN a.source IN ('src0', 'src1')
                           THEN jac.id_b ELSE jac.id_a END AS doc_id
      FROM jac JOIN documents a ON a.doc_id = jac.id_a
               JOIN documents b ON b.doc_id = jac.id_b
      WHERE j >= 0.7
        AND (a.source IN ('src0', 'src1')) <> (b.source IN ('src0', 'src1'))
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN du.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents d LEFT JOIN dups du USING (doc_id)
    WHERE d.source NOT IN ('src0', 'src1')
    GROUP BY d.source ORDER BY d.source
    """,
    "the admit loop's FOLD maintenance verb (round 14 — both "
    "ingest-admit sinks keep their growing reference as landed "
    "batch=<id> dirs for replay idempotence and prescribe folding the "
    "delta into the stored artifact on a maintenance cadence; "
    "fold_admitted_batches is that verb): the index is built on src0, "
    "the src1 rows land as two batch dirs, the fold appends their "
    "union (ONE append — cross-batch near-dups were already resolved "
    "by the loop's sequential gating) and retires the dirs to "
    "folded=<id>, out of the sinks' strictly-batch=-prefixed delta "
    "scan. Gating against the folded index alone must equal the "
    "exhaustive Jaccard oracle on src0 UNION src1 — fold == append == "
    "from-scratch rebuild, the whole lifecycle's equality chain",
)
def q_incremental_dedup_via_folded_index(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        fold_admitted_batches,
    )

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    admitted = d.filter(F.col("source") == "src1")
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    root = tempfile.mkdtemp(prefix="spark_graft_mhfold_idx_")
    delta = tempfile.mkdtemp(prefix="spark_graft_mhfold_out_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16)
    for k, half in (
        (0, admitted.filter(F.col("doc_id") % 2 == 0)),
        (1, admitted.filter(F.col("doc_id") % 2 == 1)),
    ):
        half.select("doc_id", "text").write.mode("overwrite").parquet(
            f"{delta}/batch={k}"
        )
    fold_admitted_batches(spark, delta, root, kind="minhash")
    kept = dedup.dedup_minhash_against_index(inc, root, threshold=0.7)
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root, delta))


@_q(
    "incremental_dedup_via_maintained_index",
    f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (
      SELECT DISTINCT CASE WHEN a.source IN ('src0', 'src1')
                           THEN jac.id_b ELSE jac.id_a END AS doc_id
      FROM jac JOIN documents a ON a.doc_id = jac.id_a
               JOIN documents b ON b.doc_id = jac.id_b
      WHERE j >= 0.7
        AND (a.source IN ('src0', 'src1')) <> (b.source IN ('src0', 'src1'))
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN du.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents d LEFT JOIN dups du USING (doc_id)
    WHERE d.source NOT IN ('src0', 'src1')
    GROUP BY d.source ORDER BY d.source
    """,
    "the MAINTENANCE ORCHESTRATOR end-to-end (round 14 — one pass "
    "running exactly the verbs whose triggers hold, the executable "
    "form of the cadence every lifecycle docstring prescribes in "
    "prose): the index is built on src0 and grown with src1 at a "
    "deliberately fragmented num_files, the hot-bucket ledger is "
    "materialized, then maintain_stored_index runs fsck + file-count-"
    "triggered compaction + a generation-stamped ledger refresh in "
    "one call. Gating (skip_hot=True, exercising the refreshed "
    "ledger's generation check too) must equal the exhaustive Jaccard "
    "oracle on src0 UNION src1 — the whole maintenance pass is "
    "behavior-invisible by its composed verbs' own contracts",
)
def q_incremental_dedup_via_maintained_index(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.operators.maintenance import (
        maintain_stored_index,
    )

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") == "src1")
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    root = tempfile.mkdtemp(prefix="spark_graft_mhmaint_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16, num_files=24)
    dedup.append_to_minhash_index(batch, root, num_files=24)
    dedup.refresh_hot_buckets(spark, root, hot_threshold=10**6)
    # hot_threshold threads through (r15 review): maintain's ledger
    # refresh REWRITES the ledger, and the default 64 would
    # re-threshold the deliberately-cold dial — a >64-doc bucket at a
    # larger sf would go hot and the skip_hot gate would diverge from
    # the exhaustive oracle
    report = maintain_stored_index(
        spark, root, "minhash", max_files_per_table=32, hot_threshold=10**6
    )
    assert any(a == "compacted" for _, a, _ in report)
    assert any(a == "refreshed ledger" for _, a, _ in report)
    kept = dedup.dedup_minhash_against_index(
        inc, root, threshold=0.7, skip_hot=True
    )
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "dedup_gate_after_retraction",
    f"""
    WITH {_DUCK_SHINGLES_CTE},
    dups AS (
      SELECT DISTINCT CASE WHEN a.source = 'src0' THEN jac.id_b
                           ELSE jac.id_a END AS doc_id
      FROM jac JOIN documents a ON a.doc_id = jac.id_a
               JOIN documents b ON b.doc_id = jac.id_b
      WHERE j >= 0.7 AND (a.source = 'src0') <> (b.source = 'src0')
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN du.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN du.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents d LEFT JOIN dups du USING (doc_id)
    WHERE d.source NOT IN ('src0', 'src1')
    GROUP BY d.source ORDER BY d.source
    """,
    "MinHash index RETRACTION (VERDICT r11 #3 — the GDPR-removal half "
    "of the incremental-corpus story): the index is built on src0 "
    "UNION src1, then every src1 document is RETRACTED via "
    "retract_from_minhash_index (both index tables rewrite without the "
    "retracted rows — one IO-parallel anti-join pass each, broadcast "
    "retraction set, join-aligned layout preserved, crash-safe "
    "park-swap; no re-shingling or re-banding). The remaining 18 "
    "sources gate against the retracted index; the oracle recomputes "
    "cross-set Jaccard exhaustively against src0 ONLY, so the "
    "retracted artifact must behave exactly like an index rebuilt on "
    "corpus-minus-retracted — in particular a retracted doc's "
    "near-dup twin re-admits (the observable point of retraction)",
)
def q_dedup_gate_after_retraction(spark, sf_dir):
    import tempfile

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source").isin("src0", "src1"))
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    root = tempfile.mkdtemp(prefix="spark_graft_mhretr_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16)
    dedup.retract_from_minhash_index(
        spark, root,
        d.filter(F.col("source") == "src1").select("doc_id"),
    )
    kept = dedup.dedup_minhash_against_index(inc, root, threshold=0.7)
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "dedup_gate_after_reband",
    _DUCK_CROSS_GATE_ORACLE,
    "MinHash index RE-BANDING — the text-side mirror of the IVF refit, "
    "and the LSH recall dial every deployment turns as appends grow "
    "the corpus past the size its banding params were picked for: the "
    "src0 index is built at LOW-recall banding (32 hashes × 4 bands — "
    "8 rows/band, per-pair collision ≈ 4·j⁸; deterministically misses "
    "a j≈0.86 near-dup pair, tests/test_operators.py), then "
    "reband_minhash_index recomputes signatures from the STORED hashed "
    "shingle sets in one O(index) IO-parallel pass (original text "
    "never re-read) into a NEW generation-named buckets directory, and "
    "the meta re-stamp (params + banding_gen together, crash-safe "
    "swap) is the single atomic switch — no transient exists where a "
    "batch bands with one parameter set and joins buckets built with "
    "another (that state matches nothing and silently admits every "
    "duplicate). Gating after the reband to the guaranteed-recall "
    "params must equal the exhaustive cross-set Jaccard oracle — the "
    "same contract as a fresh index built at the final params "
    "(rebuild-equality, unit-tested)",
)
def q_dedup_gate_after_reband(spark, sf_dir):
    import tempfile

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(F.col("source") != "src0")
    root = tempfile.mkdtemp(prefix="spark_graft_mhreband_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=4)
    dedup.reband_minhash_index(spark, root, num_hashes=32, bands=16)
    kept = dedup.dedup_minhash_against_index(inc, root, threshold=0.7)
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "dedup_gate_after_fsck",
    _DUCK_CROSS_GATE_ORACLE,
    "MinHash index FSCK (VERDICT r12 #4 — every lifecycle verb "
    "documents its crash residue and says 'a re-run sweeps it', but "
    "an on-call engineer shouldn't need to know which verb to re-run): "
    "the src0 index is left in a compound crash state — an interrupted "
    "compaction swap (live shingles dir MISSING, the complete staged "
    "layout parked at its tmp name: without repair every gate dies on "
    "PATH_NOT_FOUND), an inert meta__rebanding tmp, an orphan "
    "buckets_g9 generation from a crashed reband, and orphan shingle "
    "rows from an append that crashed after its shingles-first write — "
    "then ONE fsck_minhash_index(clean=True) pass detects and repairs "
    "all of it: finishes the interrupted swap (the staged layout is "
    "complete by construction — replace_parquet_dir only runs after "
    "the staging write commits), sweeps the inert dirs with checked "
    "deletes, and rewrites shingles without the orphan ids. Gating "
    "after fsck must equal the exhaustive cross-set Jaccard oracle — "
    "the same contract as a never-crashed index (the directory half "
    "of fsck is O(1) driver FS calls; the orphan check is one "
    "id-projected anti-join, 8-byte ids, never shingle payloads)",
)
def q_dedup_gate_after_fsck(spark, sf_dir):
    import os
    import shutil
    import tempfile

    # barrier=False: see incremental_minhash_dedup
    d = fan_out(table(spark, sf_dir, "documents"), barrier=False)
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(F.col("source") != "src0")
    root = tempfile.mkdtemp(prefix="spark_graft_mhfsck_")
    dedup.write_minhash_index(ref, root, num_hashes=32, bands=16)
    # compound crash state: interrupted swap + inert residue + orphans
    os.rename(root + "/shingles", root + "/shingles__compacting")
    shutil.copytree(root + "/meta", root + "/meta__rebanding")
    shutil.copytree(root + "/buckets", root + "/buckets_g9")
    dedup.shingle_sets(
        d.filter(F.col("source") == "src1"), "text", "doc_id", 3
    ).write.mode("append").parquet(root + "/shingles__compacting")
    dedup.fsck_minhash_index(spark, root, clean=True)
    kept = dedup.dedup_minhash_against_index(inc, root, threshold=0.7)
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(spark, out, scratch_dirs=(root,))


@_q(
    "knn_via_fsck_recovered_ivf_index",
    _KNN_EXACT_ORACLE,
    "IVF index FSCK — the ANN twin of dedup_gate_after_fsck: the "
    "full-corpus index is left mid-crash (live cells dir MISSING with "
    "the complete staged layout at cells__refitting — probes die on "
    "PATH_NOT_FOUND; the meta row ledger stamped 7 rows off, the "
    "state a crash between a cells swap and its re-stamp leaves; an "
    "incomplete PQ artifact — codebooks landed, pqmeta never stamped, "
    "so the artifact was never live; and inert centroids__refitting "
    "residue), then one fsck_ivf_index(clean=True) pass finishes the "
    "swap, re-stamps the ledger from a recount (the one O(index)-IO "
    "step, same footer recount _write_meta documents as the ledger "
    "upgrade path), and sweeps the never-live PQ remnants with the "
    "re-encode message. Probe-all over the repaired index must equal "
    "the exact top-10 — fsck restores, never alters: cell rows are "
    "renamed and recounted, never rewritten or re-assigned",
)
def q_knn_via_fsck_recovered_ivf_index(spark, sf_dir):
    import os
    import shutil
    import tempfile

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5)
    root = tempfile.mkdtemp(prefix="spark_graft_ivffsck_")
    similarity.write_ivf_index(e, root, n_centroids=16)
    md = read_meta_first(spark, root + "/meta").asDict()
    # compound crash state: interrupted swap + ledger drift + inert
    # residue + a never-stamped PQ artifact
    os.rename(root + "/cells", root + "/cells__refitting")
    similarity._write_meta(
        spark, root, int(md["n_centroids"]), int(md["dims"]),
        n_rows=int(md["n_rows"]) + 7, fit_gen=md.get("fit_gen") or 0,
    )
    shutil.copytree(root + "/centroids", root + "/centroids__refitting")
    shutil.copytree(root + "/centroids", root + "/codebooks")
    similarity.fsck_ivf_index(spark, root, clean=True)
    scored = similarity.ivf_index_scores(q, root, nprobe=16)
    rounded = scored.select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    out = top_k_per_group(
        rounded, ["query_id"], "score", 10, tiebreakers=["neighbor_id"]
    ).orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(root,))


def _ingest_admit_oracle() -> str:
    """Sequential-gate oracle, unrolled: batch k (incoming sources with
    numeric suffix ≡ k mod 4) is gated against src0 ∪ kept(0..k-1) —
    the exact semantics of the self-growing streaming sink, expressed
    as four explicit CTE levels over the exhaustive pairwise-Jaccard
    relation (DuckDB runs the whole chain; Spark runs the real
    streaming engine — if either side mis-sequences a batch, counts
    diverge on the measured 16 cross-batch near-dup pairs)."""
    levels = []
    for k in range(4):
        prev_ref = "ref0" if k == 0 else f"ref{k}"
        levels.append(f"""
    b{k} AS (SELECT doc_id FROM d WHERE source != 'src0' AND b = {k}),
    drop{k} AS (
      SELECT DISTINCT bk.doc_id
      FROM jac JOIN b{k} bk
        ON jac.id_a = bk.doc_id OR jac.id_b = bk.doc_id
      JOIN {prev_ref} rf
        ON (jac.id_a = bk.doc_id AND jac.id_b = rf.doc_id)
        OR (jac.id_b = bk.doc_id AND jac.id_a = rf.doc_id)
      WHERE j >= 0.7
    ),
    kept{k} AS (SELECT doc_id FROM b{k} EXCEPT SELECT doc_id FROM drop{k}),
    ref{k + 1} AS (SELECT doc_id FROM {prev_ref}
                   UNION SELECT doc_id FROM kept{k})""")
    return f"""
    WITH {_DUCK_SHINGLES_CTE},
    d AS (SELECT doc_id, source,
                 CAST(SUBSTRING(source, 4) AS INT) % 4 AS b
          FROM documents),
    ref0 AS (SELECT doc_id FROM d WHERE source = 'src0'),
    {",".join(levels)},
    dropped AS (
      SELECT doc_id FROM drop0 UNION SELECT doc_id FROM drop1
      UNION SELECT doc_id FROM drop2 UNION SELECT doc_id FROM drop3
    )
    SELECT dd.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM documents dd LEFT JOIN dropped dr USING (doc_id)
    WHERE dd.source != 'src0'
    GROUP BY dd.source ORDER BY dd.source
    """


@_q(
    "streaming_ingest_admit_loop",
    _ingest_admit_oracle(),
    "the SELF-GROWING streaming ingest — the full ingest-then-admit "
    "loop run continuously (run_corpus_ingest_admit_sink): four "
    "micro-batches of incoming docs (deterministic replay: one file "
    "per trigger, mtime-ordered) each gate against the frozen src0 "
    "MinHash index AND every batch admitted before them, so a doc "
    "that near-duplicates an earlier STREAM arrival drops too — the "
    "semantics the plain vs-reference gate cannot express (it admits "
    "both twins; this corpus has 16 measured cross-batch near-dup "
    "pairs that distinguish the two). The growing reference lives as "
    "the sink's own landed batch= dirs (strictly-earlier ids only) "
    "rather than in-stream index appends, for exact replay "
    "idempotence — a crash at any point replays to an identical "
    "result; at 100 TB the landed delta folds into the stored index "
    "on a maintenance cadence with append_to_minhash_index, outside "
    "the stream. The oracle unrolls the four sequential gate levels "
    "explicitly over the exhaustive pairwise-Jaccard relation",
)
def q_streaming_ingest_admit_loop(spark, sf_dir):
    import glob
    import os
    import shutil
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        read_docs_stream,
        run_corpus_ingest_admit_sink,
    )

    d = table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(F.col("source") != "src0")
    idx = tempfile.mkdtemp(prefix="spark_graft_admit_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_admit_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_admit_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_admit_ckpt_")
    dedup.write_minhash_index(ref, idx, num_hashes=32, bands=16)
    # four single-file batches in a deterministic replay order: the
    # file source processes by modification time, so each batch file
    # gets an explicitly increasing mtime
    stage = tempfile.mkdtemp(prefix="spark_graft_admit_stage_")
    batch_expr = F.expr("CAST(substring(source, 4) AS INT) % 4")
    for k in range(4):
        part_dir = f"{stage}/b{k}"
        inc.filter(batch_expr == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        part = glob.glob(f"{part_dir}/part-*.parquet")[0]
        dst = f"{src}/{k:04d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    run_corpus_ingest_admit_sink(
        read_docs_stream(spark, src, max_files_per_trigger=1),
        idx,
        out_dir,
        ckpt,
        threshold=0.7,
    )
    landed = spark.read.parquet(out_dir + "/batch=*")
    out = _gate_stats(inc, landed, "source", "docs")
    return _localized(
        spark, out, scratch_dirs=(idx, src, out_dir, ckpt, stage)
    )


def _admit_fold_maintain_oracle() -> str:
    """Ground truth for the full production cadence: two streamed
    batches (src1 then src2) gate sequentially against src0 ∪ earlier
    admits, then the final increment (every other source) gates
    against src0 ∪ kept(src1) ∪ kept(src2) — which is exactly what the
    index holds after the fold. Unrolled over the exhaustive
    pairwise-Jaccard relation like `_ingest_admit_oracle`; the output
    groups the FINAL increment only (the streamed batches' per-source
    rows are the admit-loop row's deliverable)."""
    levels = []
    for k, src in enumerate(("src1", "src2")):
        prev_ref = f"ref{k}"
        levels.append(f"""
    b{k} AS (SELECT doc_id FROM documents WHERE source = '{src}'),
    drop{k} AS (
      SELECT DISTINCT bk.doc_id
      FROM jac JOIN b{k} bk
        ON jac.id_a = bk.doc_id OR jac.id_b = bk.doc_id
      JOIN {prev_ref} rf
        ON (jac.id_a = bk.doc_id AND jac.id_b = rf.doc_id)
        OR (jac.id_b = bk.doc_id AND jac.id_a = rf.doc_id)
      WHERE j >= 0.7
    ),
    kept{k} AS (SELECT doc_id FROM b{k} EXCEPT SELECT doc_id FROM drop{k}),
    ref{k + 1} AS (SELECT doc_id FROM {prev_ref}
                   UNION SELECT doc_id FROM kept{k})""")
    return f"""
    WITH {_DUCK_SHINGLES_CTE},
    ref0 AS (SELECT doc_id FROM documents WHERE source = 'src0'),
    {",".join(levels)},
    inc AS (SELECT doc_id, source FROM documents
            WHERE source NOT IN ('src0', 'src1', 'src2')),
    dropf AS (
      SELECT DISTINCT i.doc_id
      FROM jac JOIN inc i
        ON jac.id_a = i.doc_id OR jac.id_b = i.doc_id
      JOIN ref2 rf
        ON (jac.id_a = i.doc_id AND jac.id_b = rf.doc_id)
        OR (jac.id_b = i.doc_id AND jac.id_a = rf.doc_id)
      WHERE j >= 0.7
    )
    SELECT i.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped
    FROM inc i LEFT JOIN dropf dr USING (doc_id)
    GROUP BY i.source ORDER BY i.source
    """


@_q(
    "streaming_admit_fold_maintain_gate",
    _admit_fold_maintain_oracle(),
    "the REAL production cadence as ONE composition (VERDICT r14 #6 — "
    "until this round fold and maintain were separate rows): the "
    "src0 index is written deliberately fragmented, the ingest-admit "
    "LOOP streams src1 then src2 through the actual streaming engine "
    "(each batch gates against src0 AND every batch admitted before "
    "it, landing as batch= dirs), the loop quiesces, "
    "fold_admitted_batches folds the landed delta into the stored "
    "index and retires the dirs, maintain_stored_index runs fsck + "
    "file-count-triggered compaction + the generation-stamped ledger "
    "refresh in one pass, and the FINAL increment (all 17 remaining "
    "sources) gates (skip_hot=True, through the refreshed ledger) "
    "against the folded+maintained index ALONE — no batch dirs left "
    "to scan. Equal to the exhaustive sequential-Jaccard ground truth "
    "iff every verb in the chain preserved gate semantics",
)
def q_streaming_admit_fold_maintain_gate(spark, sf_dir):
    import glob
    import os
    import shutil
    import tempfile

    from airline_data_pipeline_spark.operators.maintenance import (
        maintain_stored_index,
    )
    from airline_data_pipeline_spark.streaming.events import (
        fold_admitted_batches,
        read_docs_stream,
        run_corpus_ingest_admit_sink,
    )

    d = table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(~F.col("source").isin("src0", "src1", "src2"))
    idx = tempfile.mkdtemp(prefix="spark_graft_afmg_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_afmg_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_afmg_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_afmg_ckpt_")
    stage = tempfile.mkdtemp(prefix="spark_graft_afmg_stage_")
    # fragmented write: the maintenance pass must have real compaction
    # pressure to trigger on, as in production after many appends
    dedup.write_minhash_index(ref, idx, num_hashes=32, bands=16, num_files=24)
    dedup.refresh_hot_buckets(spark, idx, hot_threshold=10**6)
    # two single-file micro-batches in deterministic mtime order:
    # src1 first, src2 second (the admit loop's sequential semantics)
    for k, s in enumerate(("src1", "src2")):
        part_dir = f"{stage}/b{k}"
        d.filter(F.col("source") == s).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        part = glob.glob(f"{part_dir}/part-*.parquet")[0]
        dst = f"{src}/{k:04d}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    run_corpus_ingest_admit_sink(
        read_docs_stream(spark, src, max_files_per_trigger=1),
        idx,
        out_dir,
        ckpt,
        threshold=0.7,
    )
    fold_admitted_batches(spark, out_dir, idx, kind="minhash")
    # hot_threshold must thread through: maintain's ledger refresh
    # REWRITES the ledger, and the default 64 would re-threshold the
    # deliberately-cold ledger — a bucket over 64 docs at a larger sf
    # would go hot, skip_hot would skip it, and the row would diverge
    # from its exhaustive oracle (r15 review finding)
    report = maintain_stored_index(
        spark, idx, "minhash", max_files_per_table=16, hot_threshold=10**6
    )
    acts = {a for _, a, _ in report}
    assert "compacted" in acts and "refreshed ledger" in acts, acts
    kept = dedup.dedup_minhash_against_index(
        inc, idx, threshold=0.7, skip_hot=True
    )
    out = _gate_stats(inc, kept, "source", "docs")
    return _localized(
        spark, out, scratch_dirs=(idx, src, out_dir, ckpt, stage)
    )


@_q(
    "streaming_ingest_gate",
    _DUCK_CROSS_GATE_ORACLE,
    "streaming §2.8 composition (driver-checkable): CONTINUOUS corpus "
    "ingestion with the near-dup gate — non-src0 docs land as 8 files, "
    "replay through the real streaming engine 2 files per micro-batch, "
    "and every micro-batch is gated against the src0 reference's "
    "STORED MinHash index inside foreachBatch before landing "
    "(idempotent per-batch output dirs). The gate is vs-reference only, "
    "so the landed union must equal the one-shot batch gate — the same "
    "exhaustive cross-set Jaccard oracle as incremental_minhash_dedup, "
    "regardless of how the stream was micro-batched",
)
def q_streaming_ingest_gate(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        read_docs_stream,
        run_corpus_gate_sink,
    )

    d = table(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == "src0")
    inc = d.filter(F.col("source") != "src0")
    idx = tempfile.mkdtemp(prefix="spark_graft_gate_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_gate_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_gate_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_gate_ckpt_")
    dedup.write_minhash_index(ref, idx, num_hashes=32, bands=16)
    inc.repartition(8).write.mode("overwrite").parquet(src)
    run_corpus_gate_sink(
        read_docs_stream(spark, src, max_files_per_trigger=2),
        idx,
        out_dir,
        ckpt,
        threshold=0.7,
    )
    landed = spark.read.parquet(out_dir)
    out = _gate_stats(inc, landed, "source", "docs")
    return _localized(spark, out, scratch_dirs=(idx, src, out_dir, ckpt))


@_q(
    "streaming_ann_annotate",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 40),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_round('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 4)} AS score
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, score FROM ranked WHERE rn <= 10
    ORDER BY query_id, score DESC, neighbor_id
    """,
    "streaming §2.8 composition for the ANN family (driver-checkable): "
    "CONTINUOUS vector annotation — 40 query vectors land as 8 files, "
    "replay through the real streaming engine 2 files per micro-batch, "
    "and every micro-batch is probed against the corpus's STORED IVF "
    "index inside foreachBatch (index handles loaded ONCE, static "
    "IN-list cell pruning per trigger, idempotent per-batch output "
    "dirs) and lands with its rounded-score top-10. The annotation is "
    "vs-index only, so the landed union must equal the one-shot batch "
    "probe regardless of how the stream was micro-batched — probing "
    "all 16 cells makes that the exact top-10 the oracle computes. "
    "This completes the ANN serving lifecycle: batch "
    "(knn_via_ivf_index), incremental (append), maintenance (compact), "
    "streaming (this row)",
)
def q_streaming_ann_annotate(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_ann_annotate_sink,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    idx = tempfile.mkdtemp(prefix="spark_graft_ann_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_ann_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_ann_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_ann_ckpt_")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    e.filter(F.col("vec_id") < 40).repartition(8).write.mode(
        "overwrite"
    ).parquet(src)
    run_ann_annotate_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=2),
        idx,
        out_dir,
        ckpt,
        k=10,
        nprobe=16,
        score_digits=4,
    )
    landed = spark.read.parquet(out_dir).select(
        "query_id", "neighbor_id", "score"
    )
    out = landed.orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(idx, src, out_dir, ckpt))


@_q(
    "streaming_ann_annotate_pq",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 40),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {sql_round('list_cosine_similarity(e.embedding::DOUBLE[], q.qv)', 4)} AS score
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, score FROM ranked WHERE rn <= 10
    ORDER BY query_id, score DESC, neighbor_id
    """,
    "the EXERCISED PQ swap of the streaming ANN serving path (the "
    "knn_label_vote_lsh precedent applied to serving): the same "
    "40-vector stream replay as streaming_ann_annotate, but the sink "
    "runs use_pq=True — per-trigger candidates come from the "
    "m-bytes-per-row pqcodes scan (ADC cosine against codeword "
    "reconstructions), and only the ADC top-max(150, n/10) per query "
    "touch the full-vector cells table for exact re-rank (the depth "
    "tracks the corpus ledger — same size-robust exactness contract "
    "as knn_via_pq_ivf_index, ADVICE r12). Same exact top-10 "
    "oracle: PQ re-ranks exactly, and the measured worst true-top-10 "
    "ADC rank across all 40 stream queries on this corpus is 35/500 "
    "rows and 66/2000 rows — under half the shipped depth. The row "
    "proves the serving swap is drop-in: a user flips one flag and "
    "the landed output is bit-identical while candidate scans shrink "
    "~32× per byte",
)
def q_streaming_ann_annotate_pq(spark, sf_dir):
    import tempfile

    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_ann_annotate_sink,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    idx = tempfile.mkdtemp(prefix="spark_graft_annpq_idx_")
    src = tempfile.mkdtemp(prefix="spark_graft_annpq_src_")
    out_dir = tempfile.mkdtemp(prefix="spark_graft_annpq_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_annpq_ckpt_")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    n_rows = int(
        read_meta_first(spark, idx + "/meta").asDict().get("n_rows") or 0
    )
    e.filter(F.col("vec_id") < 40).repartition(8).write.mode(
        "overwrite"
    ).parquet(src)
    run_ann_annotate_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=2),
        idx,
        out_dir,
        ckpt,
        k=10,
        nprobe=16,
        score_digits=4,
        use_pq=True,
        rerank=max(150, n_rows // 10),
    )
    landed = spark.read.parquet(out_dir).select(
        "query_id", "neighbor_id", "score"
    )
    out = landed.orderBy("query_id", F.desc("score"), "neighbor_id")
    return _localized(spark, out, scratch_dirs=(idx, src, out_dir, ckpt))


# ===========================================================================
# sketches / corpus-prep round 2 additions: HLL, Bloom prefilter,
# winnowing fingerprints, EWMA, stratified sampling, upsert merge
# ===========================================================================
@_q(
    "hll_distinct_estimate",
    f"""
    SELECT estimate, exact_distinct,
           {sql_round('abs(estimate / exact_distinct - 1.0) * 100.0', 2)} AS rel_err_pct
    FROM (
      SELECT {sql_round('e.est', 4)} AS estimate, x.exact_distinct
      FROM ({sketches.sql_hll_estimate('lineitem', 'l_partkey', 9)}) e
      CROSS JOIN (
        SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
        FROM lineitem
      ) x
    )
    """,
    "HyperLogLog distinct-count sketch (p=9, md5-portable hash, exact "
    "integer register sum) vs the exact COUNT(DISTINCT) — the sketch "
    "shuffles 512 registers instead of every distinct value; oracle "
    "recomputes every register from first principles",
)
def q_hll_distinct_estimate(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    est = sketches.hll_estimate(li, "l_partkey", p=9)
    exact = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        "estimate",
        "exact_distinct",
        round_half_up(
            F.abs(F.col("estimate") / F.col("exact_distinct") - 1.0) * 100.0, 2
        ).alias("rel_err_pct"),
    )


@_q(
    "hll_sketch_merge_by_type",
    """
    WITH h AS (
      SELECT event_type,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT) AS hv
      FROM events
    ),
    b AS (SELECT event_type, (hv & 511) AS bucket, (hv >> 9) AS w FROM h),
    r AS (
      SELECT event_type, bucket,
             LEAST(CASE WHEN w = 0 THEN 52
                        ELSE CAST(round(log2(w & (-w))) AS INT) + 1 END, 50) AS rho
      FROM b
    ),
    g AS (SELECT event_type, bucket, MAX(rho) AS maxrho FROM r GROUP BY 1, 2),
    merged AS (
      SELECT '__MERGED__' AS event_type, bucket, MAX(maxrho) AS maxrho
      FROM g GROUP BY bucket
    ),
    allregs AS (SELECT * FROM g UNION ALL SELECT * FROM merged),
    a AS (
      SELECT event_type, COUNT(*) AS nb,
             CAST(SUM(CAST(POW(2.0, 50 - maxrho) AS BIGINT)) AS BIGINT) AS s_ne
      FROM allregs GROUP BY event_type
    ),
    e AS (
      SELECT event_type, (512 - nb) AS zeros,
             (0.7213 / (1.0 + 1.079 / 512)) * 512 * 512 * POW(2.0, 50)
               / CAST(s_ne + (512 - nb) * CAST(POW(2.0, 50) AS BIGINT) AS DOUBLE) AS e_raw
      FROM a
    )
    SELECT event_type AS scope,
           (FLOOR((CASE WHEN zeros > 0 AND e_raw <= 1280.0
                        THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
                        ELSE e_raw END) * 10000 + 0.5) / 10000) AS estimate
    FROM e
    ORDER BY scope
    """,
    "HLL MERGEABILITY (the property that makes sketches worth keeping "
    "per shard/day/group): one register table per event_type, "
    "estimated per type AND collapsed into a merged sketch (union + "
    "per-bucket max) whose '__MERGED__' estimate is exactly what a "
    "from-scratch global sketch would give — no rescan of the raw "
    "data. Oracle recomputes every grouped register, the merge, and "
    "both estimate paths from first principles",
)
def q_hll_sketch_merge_by_type(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    regs = sketches.hll_registers(ev, "user_id", p=9, group_cols=["event_type"])
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("maxrho").alias("maxrho"))
        .select(F.lit("__MERGED__").alias("event_type"), "bucket", "maxrho")
    )
    allregs = regs.select("event_type", "bucket", "maxrho").unionByName(merged)
    return (
        sketches.hll_estimate_from_registers(allregs, p=9, group_cols=["event_type"])
        .select(F.col("event_type").alias("scope"), "estimate")
        .orderBy("scope")
    )


@_q(
    "heavy_hitter_tokens",
    """
    WITH toks AS (
      SELECT t AS value FROM documents,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
      WHERE t != ''
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks)
    SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks
    GROUP BY value
    HAVING COUNT(*) * 50 > (SELECT n FROM tot)
    ORDER BY value
    """,
    "EXACT heavy hitters (tokens occurring > n/50 times corpus-wide) "
    "via the two-pass Misra-Gries operator: bounded-state candidate "
    "summaries (4k counters per partition, merged counter sums — the "
    "sketch is the shuffle unit, never the full token cardinality), "
    "then an exact count restricted to the broadcast candidate set "
    "with an integer cross-multiplied threshold. The MG guarantee "
    "makes candidates a superset of the true heavy set, so the "
    "verified output equals the oracle's plain GROUP BY ... HAVING "
    "exactly, independent of partitioning — the same "
    "candidates→verify discipline as the dedup family",
)
def q_heavy_hitter_tokens(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
    )
    return (
        sketches.heavy_hitters(toks, "tok", k=50)
        .select("value", F.col("cnt").cast("long").alias("cnt"))
        .orderBy("value")
    )


@_q(
    "bloom_prefilter_semi_join",
    """
    WITH bk AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    probe AS (SELECT DISTINCT c_custkey AS k FROM customer),
    seeds AS (SELECT unnest([1, 2, 3]) AS j),
    pos AS (
      SELECT DISTINCT
        (('0x' || substr(md5('bloom' || j || ':' || CAST(k AS VARCHAR)),1,15))::BIGINT) % 4096 AS p
      FROM bk CROSS JOIN seeds
    ),
    pp AS (
      SELECT k,
        (('0x' || substr(md5('bloom' || j || ':' || CAST(k AS VARCHAR)),1,15))::BIGINT) % 4096 AS p
      FROM probe CROSS JOIN seeds
    ),
    hits AS (SELECT k, COUNT(*) AS c FROM pp JOIN pos USING(p) GROUP BY k),
    bp AS (SELECT CAST(COUNT(*) AS BIGINT) AS bloom_pass FROM hits WHERE c = 3),
    ep AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_pass FROM probe
      WHERE k IN (SELECT k FROM bk)
    ),
    pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS probed FROM probe)
    SELECT probed, bloom_pass, exact_pass,
           (bloom_pass - exact_pass) AS false_positives
    FROM pc CROSS JOIN bp CROSS JOIN ep
    """,
    "Bloom-filter pre-filter for a semi-join: build 3-hash/4096-bit "
    "positions from urgent-order custkeys, probe every customer, report "
    "bloom-pass vs exact semi-join counts (no false negatives; the FP "
    "count is the price of skipping the full join) — the explicit, "
    "oracle-checkable version of runtime row filters",
)
def q_bloom_prefilter_semi_join(spark, sf_dir):
    build_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probe = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    pos = sketches.bloom_positions(build_keys, "k", m_bits=4096, k=3)
    passed = sketches.bloom_probe(probe, pos, "k", m_bits=4096, k=3)
    exact = probe.join(build_keys, "k", "left_semi")
    return (
        probe.agg(F.count("*").cast("long").alias("probed"))
        .crossJoin(passed.agg(F.count("*").cast("long").alias("bloom_pass")))
        .crossJoin(exact.agg(F.count("*").cast("long").alias("exact_pass")))
        .select(
            "probed",
            "bloom_pass",
            "exact_pass",
            (F.col("bloom_pass") - F.col("exact_pass")).alias("false_positives"),
        )
    )


@_q(
    "winnow_fingerprint_pairs",
    f"""
    WITH toksw AS (SELECT doc_id, {_DUCK_LTOKS} AS t FROM documents),
    gw AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [coalesce(array_to_string(t, ' '), '')] END AS g
      FROM toksw
    ),
    hw AS (
      SELECT doc_id,
             list_transform(g, x -> ('0x' || substr(md5(x),1,15))::BIGINT) AS hv
      FROM gw
    ),
    fw AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hv) - 3, 1) + 1),
               i -> list_min(hv[i:least(i + 3, len(hv))]))) AS fp
      FROM hw
    ),
    pf AS (SELECT doc_id, unnest(fp) AS f FROM fw),
    pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
      FROM pf a JOIN pf b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared FROM pr WHERE shared >= 2 ORDER BY id_a, id_b
    """,
    "winnowing (rolling-hash) document fingerprints, MOSS-style: sliding "
    "4-window min over md5-portable 3-gram hashes, pairs sharing >= 2 "
    "fingerprints via the fingerprint inverted index — content-defined "
    "sampling at ~2/(w+1) retention with a shared-substring guarantee; "
    "oracle recomputes fingerprints from raw text",
)
def q_winnow_fingerprint_pairs(spark, sf_dir):
    d = fan_out(table(spark, sf_dir, "documents"))
    pairs = dedup.winnow_shared_pairs(
        d, shingle_k=3, window=4, min_shared=2
    )
    return pairs.select(
        "id_a", "id_b", F.col("shared").cast("long").alias("shared")
    ).orderBy("id_a", "id_b")


@_q(
    "ewma_monthly_revenue",
    f"""
    WITH mo AS (
      SELECT o_orderpriority AS priority,
             date_trunc('month', o_orderdate) AS month,
             CAST({sql_round('SUM(o_totalprice) * 100.0', 0)} AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    wl AS (
      SELECT priority, month,
             list(cents) OVER (
               PARTITION BY priority ORDER BY month
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS lst
      FROM mo
    )
    SELECT priority, month,
           {sql_round('(CAST(list_sum(list_transform(range(1, len(lst) + 1), i -> lst[i] * CAST(POW(2.0, i - 1) AS BIGINT))) AS DOUBLE) / (POW(2.0, len(lst)) - 1.0)) / 100.0', 2)} AS ewma
    FROM wl ORDER BY priority, month
    """,
    "EWMA (alpha=0.5, 12-month frame) over monthly revenue per priority: "
    "the weighted sum runs in exact integer cents with dyadic weights "
    "2^i, so the smoothed series is bit-identical across engines — the "
    "time-series smoothing primitive, one window shuffle",
)
def q_ewma_monthly_revenue(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
    ).agg(
        round_half_up(F.sum("o_totalprice") * 100.0, 0)
        .cast("long")
        .alias("cents")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(-11, 0)
    )
    lst = F.collect_list("cents").over(w)
    weighted = F.aggregate(
        F.transform(
            lst, lambda x, i: x * F.pow(F.lit(2.0), i).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    denom = F.pow(F.lit(2.0), F.size(lst)) - F.lit(1.0)
    return (
        monthly.select(
            "priority",
            "month",
            round_half_up(
                (weighted.cast("double") / denom) / 100.0, 2
            ).alias("ewma"),
        )
        .orderBy("priority", "month")
    )


@_q(
    "stratified_sample_counts",
    f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS sampled_rows,
           {sql_round('SUM(o_totalprice)', 2)} AS sampled_value
    FROM orders
    WHERE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':strata'),1,15))::BIGINT) % 10000 <
          CASE o_orderpriority
            WHEN '1-URGENT' THEN 5000
            WHEN '2-HIGH' THEN 2500
            ELSE 1000 END
    GROUP BY 1 ORDER BY 1
    """,
    "stratified sampling: per-stratum deterministic hash-mod fractions "
    "(sampleBy semantics but reproducible across runs/engines/"
    "partitionings; growing the corpus never resamples old rows) — "
    "row-local filter, no shuffle before the counting agg",
)
def q_stratified_sample_counts(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    s = corpus.stratified_sample(
        o,
        "o_orderpriority",
        {"1-URGENT": 0.5, "2-HIGH": 0.25},
        key_col="o_orderkey",
        default_fraction=0.1,
    )
    return (
        s.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("sampled_rows"),
            round_half_up(F.sum("o_totalprice"), 2).alias("sampled_value"),
        )
        .orderBy("priority")
    )


@_q(
    "weighted_sample_counts",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS sampled_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'),1,15))::BIGINT) % 10000 <
          FLOOR(LEAST(1.0, n_chars / 500.0) * 10000)
    GROUP BY source
    ORDER BY source
    """,
    "length-weighted corpus sampling: each doc's keep probability is a "
    "PER-ROW weight (here a token-budget ramp, n_chars/500 capped at "
    "1) drawn deterministically from the doc key — reproducible "
    "across runs/engines/partitionings, row-local and pushable, the "
    "standard quality/length-weighted downsampling stage of a "
    "training-data pipeline",
)
def q_weighted_sample_counts(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    s = corpus.weighted_sample(d, "doc_id", w)
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
        )
        .orderBy("source")
    )


@_q(
    "temperature_source_mix",
    """
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT SUM(POWER(n, 0.5)) AS sw, SUM(n) AS total_n FROM counts),
    rates AS (
      SELECT source, LEAST(1.0, (POWER(n, 0.5) / sw) * (0.5 * total_n) / n) AS rate
      FROM counts CROSS JOIN tot
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':tsample'),1,15))::BIGINT) % 1000000
          < FLOOR((FLOOR(r.rate * 1000000000 + 0.5) / 1000000000) * 1000000)
    GROUP BY d.source
    ORDER BY d.source
    """,
    "temperature-based source mixing (the Gopher/MassiveText multi-"
    "source sampling stage): each source is kept at rate "
    "min(1, budget*n_s^0.5/sum n_t^0.5 / n_s), flattening the natural "
    "source distribution under a half-corpus budget. Engine plan: "
    "tiny source-count aggregate -> broadcast rates -> row-local "
    "deterministic hash-Bernoulli filter (no data-sized shuffle); the "
    "oracle recomputes rates and the md5 draw from first principles",
)
def q_temperature_source_mix(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    s = corpus.temperature_sample(
        d, source_col="source", key_col="doc_id", alpha=0.5, budget_frac=0.5
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


@_q(
    "epoch_replication_mix",
    """
    WITH d AS (
      -- the synthetic corpus is UNIFORM by source (every rate would
      -- land exactly on 2.0 epochs and prove nothing); a skewed
      -- deterministic tier (~1/7 rare, ~2/7 mid, ~4/7 common) makes
      -- the temperature weights, the 4-epoch cap, and the fractional
      -- hash-Bernoulli epoch all fire
      SELECT doc_id, n_chars,
             CASE WHEN doc_id % 7 = 0 THEN 'rare'
                  WHEN doc_id % 3 = 0 THEN 'mid'
                  ELSE 'common' END AS source
      FROM documents
    ),
    counts AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
    tot AS (SELECT SUM(POWER(n, 0.5)) AS sw, SUM(n) AS total_n FROM counts),
    rates AS (
      SELECT source,
             FLOOR(LEAST(4.0, (POWER(n, 0.5) / sw) * (2.0 * total_n) / n)
                   * 1000000000 + 0.5) / 1000000000 AS rate
      FROM counts CROSS JOIN tot
    ),
    r2 AS (
      SELECT source, CAST(FLOOR(rate) AS INTEGER) AS fullv,
             CAST(FLOOR((rate - FLOOR(rate)) * 1000000) AS BIGINT) AS fthr
      FROM rates
    ),
    plan AS (
      SELECT d.source, d.doc_id, d.n_chars, e.x AS epoch
      FROM d
      JOIN r2 r ON d.source IS NOT DISTINCT FROM r.source,
      unnest(range(1, r.fullv
        + CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':epoch'),1,15))::BIGINT) % 1000000 < r.fthr
               THEN 1 ELSE 0 END + 1)) AS e(x)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_replicas,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MAX(epoch) AS INTEGER) AS max_epoch,
           CAST(SUM(n_chars) AS BIGINT) AS replicated_chars
    FROM plan GROUP BY source ORDER BY source
    """,
    "data-constrained scaling (Muennighoff et al. 2023): per-document "
    "EPOCH REPLICATION plan under a 2x-corpus token budget allocated "
    "by n^0.5 temperature weights, capped at the paper's ~4-epoch "
    "useful-repetition limit — temperature mixing generalized to rates "
    "> 1, so small high-quality sources epoch up while a giant crawl "
    "stays at <= 1. floor(rate) full epochs per doc plus a "
    "deterministic hash-Bernoulli partial epoch (rate snapped to 9 "
    "decimals before the threshold — the boundary-ulp discipline). "
    "Engine plan: tiny count agg -> broadcast rates -> row-local "
    "explode(sequence); the oracle rebuilds rates, the md5 draw, and "
    "the replica expansion from first principles",
)
def q_epoch_replication_mix(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.when(F.col("doc_id") % 7 == 0, F.lit("rare"))
        .when(F.col("doc_id") % 3 == 0, F.lit("mid"))
        .otherwise(F.lit("common"))
        .alias("source"),
    )
    plan = corpus.epoch_replication_plan(
        d, source_col="source", key_col="doc_id",
        budget_mult=2.0, alpha=0.5, max_epochs=4,
    )
    return (
        plan.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_replicas"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("epoch").alias("max_epoch"),
            F.sum("n_chars").cast("long").alias("replicated_chars"),
        )
        .orderBy("source")
    )


@_q(
    "quality_classifier_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_DUCK_LTOKS}) AS tk FROM documents
    ),
    b AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(tk || ':qbucket'),1,15))::BIGINT) % 65536 AS bucket
      FROM toks
    ),
    per_doc AS (
      SELECT doc_id, source,
             SUM((('0x' || substr(md5(CAST(bucket AS VARCHAR) || ':qmodel'),1,15))::BIGINT) % 2001 - 1000) AS lm,
             COUNT(*) AS nt
      FROM b GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS scored_docs,
           CAST(SUM(CASE WHEN lm >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           {sql_round('AVG(lm / (1000.0 * nt))', 6)} AS avg_logit
    FROM per_doc GROUP BY source ORDER BY source
    """,
    "hashing-trick linear quality classifier applied at corpus scale "
    "(the fastText/CCNet filter shape) with ZERO Python: tokens hash "
    "to 65536 feature buckets, the weight table joins in as a "
    "broadcast model, per-doc logits are EXACT int64 milli-unit sums "
    "(order-independent), and classification thresholds the logit at "
    "0 (== sigmoid 0.5, monotone — no cross-engine exp()). The "
    "deterministic pseudo-model is derived from the md5-portable "
    "bucket hash so the oracle rebuilds weights from first principles; "
    "production swaps in trained weights through the same plan",
)
def q_quality_classifier_scores(spark, sf_dir):
    # fan_out A/B (r8, interleaved medians at sf0.1): 0.80 -> 0.70 s —
    # the explode + broadcast-model join is substantial per-row work
    # before the first (doc_id) shuffle, so the starved-scan guard
    # wins here; it LOST on ngram_overlap (1.53 -> 1.98, joins early)
    # and chunk_null (0.19 -> 0.40, too cheap), which stay plain
    d = fan_out(table(spark, sf_dir, "documents"))
    scored = corpus.score_hashed_linear(d, carry_cols=["source"])
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("scored_docs"),
            F.sum((F.col("logit_milli") >= 0).cast("long")).alias("kept_docs"),
            round_half_up(F.avg("logit"), 6).alias("avg_logit"),
        )
        .orderBy("source")
    )


@_q(
    "chunk_stats_by_source",
    r"""
    WITH w AS (
      SELECT source,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
      FROM documents
    ),
    c AS (
      SELECT source,
             unnest(list_transform(
               range(1, greatest(len(toks) - 63, 1) + 1, 48),
               s -> array_to_string(list_slice(toks, s, least(s + 63, len(toks))), ' ')
             )) AS chunk_text
      FROM w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(len(list_filter(regexp_split_to_array(chunk_text, '\s+'), x -> x != ''))) AS BIGINT) AS total_chunk_tokens,
           CAST(SUM((('0x' || substr(md5(chunk_text),1,15))::BIGINT) % 1000003) AS BIGINT) AS chunk_text_checksum
    FROM c
    GROUP BY source
    ORDER BY source
    """,
    "sliding-window document chunking (the RAG/pre-training splitter): "
    "64-token windows at stride 48, full-window drop-tail contract, "
    "whole-doc chunk for short docs — one posexplode fan-out, token "
    "split once, zero shuffles before the rollup. The checksum sums a "
    "portable md5 hash of every chunk's TEXT, so the oracle verifies "
    "the chunk contents exactly, not just the counts",
)
def q_chunk_stats_by_source(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    chunks = corpus.chunk_documents(
        d, chunk_tokens=64, stride=48, carry_cols=["source"]
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("total_chunk_tokens"),
            F.sum(
                F.pmod(TX.portable_hash60(F.col("chunk_text")), F.lit(1000003))
            ).alias("chunk_text_checksum"),
        )
        .orderBy("source")
    )


@_q(
    "chunk_null_doc_stats",
    r"""
    WITH docs AS (
      SELECT doc_id, text, source FROM documents WHERE doc_id % 7 = 0
      UNION ALL SELECT -1, NULL, 'injected'
      UNION ALL SELECT -2, '', 'injected'
      UNION ALL SELECT -3, '   ', 'injected'
    ),
    w AS (
      SELECT source,
             COALESCE(
               list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != ''),
               CAST([] AS VARCHAR[])
             ) AS toks
      FROM docs
    ),
    c AS (
      SELECT source,
             unnest(list_transform(
               range(1, greatest(len(toks) - 63, 1) + 1, 48),
               -- COALESCE: array_to_string(list_slice([],1,0)) is NULL
               -- in DuckDB, but the engine's empty chunk is '' text
               s -> COALESCE(array_to_string(list_slice(toks, s, least(s + 63, len(toks))), ' '), '')
             )) AS chunk_text
      FROM w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(len(list_filter(regexp_split_to_array(chunk_text, '\s+'), x -> x != ''))) AS BIGINT) AS total_chunk_tokens,
           CAST(SUM((('0x' || substr(md5(chunk_text),1,15))::BIGINT) % 1000003) AS BIGINT) AS chunk_text_checksum
    FROM c
    GROUP BY source
    ORDER BY source
    """,
    "chunker NULL/blank-doc contract, oracle-proven: a NULL-text, an "
    "empty, and a whitespace-only doc are INJECTED into a real corpus "
    "slice (the landing path can deliver all three) and must each "
    "yield exactly one 0-token empty-text chunk — never the phantom "
    "full-width NULL chunk the pre-fix coalesce bug emitted. The "
    "'injected' group's driver row pins (3 chunks, 0 tokens, "
    "3·hash('')) while the real sources keep the checksum contract of "
    "chunk_stats_by_source",
)
def q_chunk_null_doc_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text", "source")
    inj = spark.range(1).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(-1).cast("long").alias("doc_id"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit("injected").alias("source"),
                ),
                F.struct(
                    F.lit(-2).cast("long").alias("doc_id"),
                    F.lit("").alias("text"),
                    F.lit("injected").alias("source"),
                ),
                F.struct(
                    F.lit(-3).cast("long").alias("doc_id"),
                    F.lit("   ").alias("text"),
                    F.lit("injected").alias("source"),
                ),
            )
        ).alias("r")
    ).select("r.doc_id", "r.text", "r.source")
    chunks = corpus.chunk_documents(
        base.unionByName(inj), chunk_tokens=64, stride=48, carry_cols=["source"]
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("total_chunk_tokens"),
            F.sum(
                F.pmod(TX.portable_hash60(F.col("chunk_text")), F.lit(1000003))
            ).alias("chunk_text_checksum"),
        )
        .orderBy("source")
    )


@_q(
    "upsert_latest_wins",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
    ),
    delta AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             2 AS version
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      FROM u
    )
    SELECT o_orderkey, o_orderstatus, version,
           {sql_round('o_totalprice', 2)} AS price
    FROM r WHERE rn = 1 ORDER BY o_orderkey
    """,
    "upsert merge view (latest version wins): base snapshot + delta "
    "unioned, ranked per key by version desc, rank 1 survives — the "
    "append-only-warehouse answer to the reference's Postgres ON "
    "CONFLICT upsert; one shuffle on the merge key",
)
def q_upsert_latest_wins(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    delta = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit(2).alias("version"),
    )
    merged = upsert_latest(base, delta, ["o_orderkey"], "version")
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        "version",
        round_half_up(F.col("o_totalprice"), 2).alias("price"),
    ).orderBy("o_orderkey")


@_q(
    "cms_heavy_hitters",
    """
    WITH seeds AS (SELECT unnest([1, 2, 3, 4]) AS j),
    cells AS (
      SELECT j AS seed,
        (('0x' || substr(md5('cms' || j || ':' || CAST(o_custkey AS VARCHAR)),1,15))::BIGINT) % 1024 AS pos
      FROM orders CROSS JOIN seeds
    ),
    counters AS (
      SELECT seed, pos, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cells GROUP BY seed, pos
    ),
    probe AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey < 30),
    pcells AS (
      SELECT k, j AS seed,
        (('0x' || substr(md5('cms' || j || ':' || CAST(k AS VARCHAR)),1,15))::BIGINT) % 1024 AS pos
      FROM probe CROSS JOIN seeds
    ),
    est AS (
      SELECT k, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cms_estimate
      FROM pcells LEFT JOIN counters USING (seed, pos) GROUP BY k
    ),
    exact AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM orders GROUP BY o_custkey
    )
    SELECT est.k AS custkey, cms_estimate, exact_n,
           (cms_estimate - exact_n) AS overestimate
    FROM est JOIN exact ON est.k = exact.k
    ORDER BY custkey
    """,
    "Count-Min sketch point queries vs exact per-key counts: orders "
    "per custkey compressed into a 4x1024 counter grid (fixed-size "
    "map-side partial agg instead of an O(distinct keys) shuffle; "
    "counters merge by addition for incremental corpora), probed for "
    "custkeys < 30 — the CM guarantee (estimate >= exact) surfaces as a "
    "non-negative overestimate column; oracle rebuilds every counter "
    "from first principles",
)
def q_cms_heavy_hitters(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    counters = sketches.cms_counters(o, "o_custkey", width=1024, depth=4)
    keys = o.filter(F.col("o_custkey") < 30).select("o_custkey").distinct()
    est = sketches.cms_estimate(keys, counters, "o_custkey", width=1024, depth=4)
    exact = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    return (
        est.join(exact, "o_custkey")
        .select(
            F.col("o_custkey").alias("custkey"),
            "cms_estimate",
            "exact_n",
            (F.col("cms_estimate") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy("custkey")
    )


@_q(
    "canonical_doc_selection",
    f"""
    WITH RECURSIVE {_DUCK_SHINGLES_CTE},
    e AS (
      SELECT id_a AS s, id_b AS t FROM jac WHERE j >= 0.5
      UNION ALL
      SELECT id_b AS s, id_a AS t FROM jac WHERE j >= 0.5
    ),
    reach(s, t) AS (
      SELECT s, t FROM e
      UNION
      SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s
    ),
    cl AS (
      SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
      GROUP BY d.doc_id
    ),
    m AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS nm
      FROM cl c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_chars,
           nm AS n_members
    FROM m WHERE rn = 1 AND nm >= 2
    ORDER BY cluster_id
    """,
    "survivor selection — the stage AFTER near-dup clustering: per "
    "multi-member Jaccard>=0.5 cluster keep ONE representative by the "
    "keep-longest policy (max n_chars, doc_id tiebreak) and report "
    "cluster size. Detect -> cluster -> select is the full dedup story; "
    "pipelines that stop at pairwise drop-id_b under-merge chains AND "
    "keep an arbitrary survivor. Oracle recomputes components with a "
    "recursive transitive-closure CTE and the same keep-longest window",
)
def q_canonical_doc_selection(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    pairs = dedup.exact_jaccard_pairs(d, threshold=0.5)
    clusters = dedup.connected_components(d.select("doc_id"), pairs)
    member = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    # both windows share one partitioning -> a single shuffle on
    # cluster_id; cluster count is corpus-bounded, members are tiny
    wc = Window.partitionBy("cluster_id")
    ranked = member.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(wc.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wc).alias("nm"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("nm") >= 2))
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_chars"),
            F.col("nm").alias("n_members"),
        )
        .orderBy("cluster_id")
    )


@_q(
    "gopher_rules_stats",
    f"""
    WITH d AS (
      -- NULL text is the documented empty-doc case (engine coalesces
      -- inside gopher_quality_flags); without this the oracle's
      -- len(NULL) would NULL-collapse every CASE to 0 while the
      -- engine counts the failures
      SELECT source, COALESCE(text, '') AS text FROM documents
    ),
    t AS (
      SELECT source, text, {_DUCK_TOKS} AS toks, {_DUCK_LTOKS} AS ltoks
      FROM d
    ),
    m AS (
      SELECT source,
             len(toks) AS n,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                  ELSE 0.0 END AS mwl,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
             len(list_filter(ltoks,
                 x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS stop_hits,
             length(regexp_replace(text, '[^#…]', '', 'g')) AS symbols
      FROM t
    ),
    f AS (
      SELECT source,
             (n < 50 OR n > 100000) AS f_wc,
             (n = 0 OR mwl < 3.0 OR mwl > 10.0) AS f_mwl,
             (CASE WHEN n > 0 THEN alpha_words::DOUBLE / n < 0.80 ELSE TRUE END) AS f_alpha,
             (CASE WHEN n > 0 THEN symbols::DOUBLE / n > 0.10 ELSE FALSE END) AS f_sym,
             (stop_hits < 2) AS f_stop
      FROM m
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN f_wc THEN 1 ELSE 0 END)::BIGINT AS fail_word_count,
           SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END)::BIGINT AS fail_mean_word_len,
           SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END)::BIGINT AS fail_alpha_words,
           SUM(CASE WHEN f_sym THEN 1 ELSE 0 END)::BIGINT AS fail_symbol_ratio,
           SUM(CASE WHEN f_stop THEN 1 ELSE 0 END)::BIGINT AS fail_stopwords,
           SUM(CASE WHEN NOT (f_wc OR f_mwl OR f_alpha OR f_sym OR f_stop)
                    THEN 1 ELSE 0 END)::BIGINT AS n_pass
    FROM f GROUP BY source ORDER BY source
    """,
    "corpus audit: per-source breakdown of Gopher/MassiveText quality-"
    "rule failures (word count, mean word length, alpha-word ratio, "
    "symbol ratio, required stop-words — published thresholds) plus the "
    "all-rules pass count. One scan, five flags from one tokenization, "
    "map-side partial agg on source; the per-rule breakdown is what "
    "threshold tuning reads before committing a 100 TB filter run. "
    "Oracle recomputes every rule from raw text in DuckDB",
)
def q_gopher_rules_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    flags = d.select("source", TX.gopher_quality_flags(F.col("text")).alias("g"))

    def fails(name: str) -> Column:
        return F.sum(F.col(f"g.{name}").cast("long")).alias(name)

    passed = ~(
        F.col("g.fail_word_count")
        | F.col("g.fail_mean_word_len")
        | F.col("g.fail_alpha_words")
        | F.col("g.fail_symbol_ratio")
        | F.col("g.fail_stopwords")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fails("fail_word_count"),
            fails("fail_mean_word_len"),
            fails("fail_alpha_words"),
            fails("fail_symbol_ratio"),
            fails("fail_stopwords"),
            F.sum(passed.cast("long")).alias("n_pass"),
        )
        .orderBy("source")
    )


# ---- Gopher repetition-rule oracle (built programmatically: 13 rules
# × the same unit/count/char pipeline; the f-string loops keep both
# engines' formulas generated from ONE threshold table) ----
_GREP_INJECT_SQL = (
    "SELECT CAST(-1 AS BIGINT) AS doc_id, "
    "'repeat line one' || chr(10) || 'unique line a' || chr(10) || "
    "'repeat line one' || chr(10) || chr(10) || "
    "'repeat line one' || chr(10) || 'unique line b' AS text, "
    "'injected' AS source "
    "UNION ALL SELECT -2, 'para one text' || chr(10) || chr(10) || "
    "'para one text' || chr(10) || chr(10) || 'para two text', 'injected' "
    "UNION ALL SELECT -3, rtrim(repeat('spam ham eggs ', 30)), 'injected' "
    "UNION ALL SELECT -4, NULL, 'injected'"
)


def _gopher_repetition_oracle() -> str:
    top_ns, dup_ns = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    ngram_units = "\n      UNION ALL ".join(
        f"SELECT doc_id, 'g{n}' AS kind, u.x AS unit\n"
        f"      FROM base, unnest(list_transform("
        f"range(1, greatest(len(toks) - {n - 1}, 0) + 1),\n"
        f"        s -> array_to_string(list_slice(toks, s, s + {n - 1}), ' ')"
        f")) AS u(x)"
        for n in (*top_ns, *dup_ns)
    )
    kind_cols = ", ".join(
        f"MAX(CASE WHEN kind = '{k}' THEN {c} END) AS {k}_{a}"
        for k in ("line", "para")
        for c, a in (
            ("n_units", "n"),
            ("n_distinct", "d"),
            ("tot_chars", "tc"),
            ("dup_beyond", "db"),
        )
    )
    top_cols = ", ".join(
        f"MAX(CASE WHEN kind = 'g{n}' THEN top_char END) AS g{n}_top"
        for n in top_ns
    )
    dup_cols = ", ".join(
        f"MAX(CASE WHEN kind = 'g{n}' THEN dup_all END) AS g{n}_da"
        for n in dup_ns
    )
    unit_metrics = ", ".join(
        f"CASE WHEN COALESCE({k}_n, 0) > 0 THEN "
        f"({k}_n - {k}_d)::DOUBLE / {k}_n ELSE 0.0 END AS dup_{k}_frac, "
        f"CASE WHEN COALESCE({k}_tc, 0) > 0 THEN "
        f"COALESCE({k}_db, 0)::DOUBLE / {k}_tc ELSE 0.0 END AS dup_{k}_char_frac"
        for k in ("line", "para")
    )
    gram_metrics = ", ".join(
        f"LEAST(1.0, CASE WHEN norm_chars > 0 THEN "
        f"COALESCE(g{n}_top, 0)::DOUBLE / norm_chars ELSE 0.0 END) "
        f"AS top_{n}gram_char_frac"
        for n in top_ns
    ) + ", " + ", ".join(
        f"LEAST(1.0, CASE WHEN norm_chars > 0 THEN "
        f"COALESCE(g{n}_da, 0)::DOUBLE / norm_chars ELSE 0.0 END) "
        f"AS dup_{n}gram_char_frac"
        for n in dup_ns
    )
    thr = repetition.GOPHER_REPETITION_THRESHOLDS
    flags = ", ".join(f"({m} > {t}) AS fail_{m}" for m, t in thr.items())
    any_expr = " OR ".join(f"fail_{m}" for m in thr)
    fail_sums = ", ".join(
        f"SUM(CASE WHEN fail_{m} THEN 1 ELSE 0 END)::BIGINT AS fail_{m}"
        for m in thr
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, COALESCE(text, '') AS text, source FROM documents
      UNION ALL {_GREP_INJECT_SQL}
    ),
    base AS (
      SELECT doc_id, source, text, {_DUCK_LTOKS} AS toks,
             length(array_to_string({_DUCK_LTOKS}, ' ')) AS norm_chars
      FROM docs
    ),
    units AS (
      SELECT doc_id, 'line' AS kind, trim(u.x) AS unit
      FROM base, unnest(string_split(text, chr(10))) AS u(x)
      WHERE trim(u.x) <> ''
      UNION ALL
      SELECT doc_id, 'para' AS kind, trim(u.x) AS unit
      FROM base, unnest(regexp_split_to_array(text, '\\n{{2,}}')) AS u(x)
      WHERE trim(u.x) <> ''
      UNION ALL {ngram_units}
    ),
    per_unit AS (
      SELECT doc_id, kind, unit, COUNT(*) AS c, length(unit) AS len
      FROM units GROUP BY doc_id, kind, unit
    ),
    w AS (
      SELECT *, MAX(c) OVER (PARTITION BY doc_id, kind) AS mc FROM per_unit
    ),
    per_kind AS (
      SELECT doc_id, kind, SUM(c) AS n_units, COUNT(*) AS n_distinct,
             SUM(c * len) AS tot_chars,
             SUM(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup_all,
             SUM(CASE WHEN c > 1 THEN (c - 1) * len ELSE 0 END) AS dup_beyond,
             CASE WHEN MAX(mc) > 1
                  THEN MAX(mc) * MAX(CASE WHEN c = mc THEN len END)
                  ELSE 0 END AS top_char
      FROM w GROUP BY doc_id, kind
    ),
    per_doc AS (
      SELECT doc_id, {kind_cols}, {top_cols}, {dup_cols}
      FROM per_kind GROUP BY doc_id
    ),
    m AS (
      SELECT b.doc_id, b.source, {unit_metrics}, {gram_metrics}
      FROM base b LEFT JOIN per_doc p USING (doc_id)
    ),
    f AS (
      SELECT source, top_2gram_char_frac, dup_5gram_char_frac, {flags} FROM m
    ),
    g AS (SELECT *, ({any_expr}) AS fail_any FROM f)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, {fail_sums},
           SUM(CASE WHEN fail_any THEN 1 ELSE 0 END)::BIGINT AS n_fail_any,
           {sql_round('AVG(top_2gram_char_frac)', 6)} AS avg_top_2gram_char_frac,
           {sql_round('AVG(dup_5gram_char_frac)', 6)} AS avg_dup_5gram_char_frac
    FROM g GROUP BY source ORDER BY source
    """


_GREP_INJECTED_DOCS = [
    (
        -1,
        "repeat line one\nunique line a\nrepeat line one\n\n"
        "repeat line one\nunique line b",
    ),
    (-2, "para one text\n\npara one text\n\npara two text"),
    (-3, ("spam ham eggs " * 30).rstrip()),
    (-4, None),
]


@_q(
    "gopher_repetition_stats",
    _gopher_repetition_oracle(),
    "the OTHER half of the MassiveText filter (Rae et al. 2021 Table "
    "A1): all 13 published REPETITION rules — duplicate line/paragraph "
    "fraction + char fractions, top-2/3/4-gram char fraction, "
    "duplicate-5..10-gram char fraction — per-source failure counts "
    "plus two rounded mean fractions. Engine plan: lines, paragraphs "
    "and all 9 n-gram widths flatten into ONE exploded relation and "
    "aggregate twice (map-side-combined (doc,kind,unit) counts, then a "
    "conditional-agg pivot back to one row per doc) — a single corpus "
    "scan + one shuffle, zero Python. Four injected docs (dup lines, "
    "dup paragraphs, degenerate n-gram spam, NULL text) keep the "
    "line/paragraph rules non-vacuous on the single-line synthetic "
    "corpus; the oracle recomputes every unit count and char sum from "
    "first principles",
)
def q_gopher_repetition_stats(spark, sf_dir):
    # No fan_out: A/B at sf0.1 (3 reps interleaved) — plain 4.13 s vs
    # fan_out 4.52 / barrier-less 4.85. The pre-exchange work on the
    # starved scan is only tokenize+posexplode; everything heavy
    # (stack, unit counts, rollups) runs above the window's doc_id
    # exchange, which already spreads it across cores — fan_out just
    # adds an exchange.
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    inj = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).cast("long").alias("doc_id"),
                            F.lit(t).cast("string").alias("text"),
                            F.lit("injected").alias("source"),
                        )
                        for i, t in _GREP_INJECTED_DOCS
                    ]
                )
            ).alias("r")
        )
        .select("r.doc_id", "r.text", "r.source")
    )
    flagged = repetition.gopher_repetition_flags(
        repetition.gopher_repetition_metrics(
            d.unionByName(inj), carry_cols=["source"]
        )
    )
    fail_aggs = [
        F.sum(F.col(f"fail_{m}").cast("long")).alias(f"fail_{m}")
        for m in repetition.GOPHER_REPETITION_THRESHOLDS
    ]
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *fail_aggs,
            F.sum(F.col("fail_any_repetition").cast("long")).alias("n_fail_any"),
            round_half_up(F.avg("top_2gram_char_frac"), 6).alias(
                "avg_top_2gram_char_frac"
            ),
            round_half_up(F.avg("dup_5gram_char_frac"), 6).alias(
                "avg_dup_5gram_char_frac"
            ),
        )
        .orderBy("source")
    )


_BLOCKLIST_TERMS = ["slow", "dup"]


@_q(
    "blocklist_filter_stats",
    f"""
    WITH t AS (
      SELECT source,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> x <> '')) AS n_toks,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> list_contains(['slow', 'dup'], x))) AS hits
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN hits * 100 > 8 * n_toks THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           {sql_round('MAX(hits / CAST(n_toks AS DOUBLE))', 4)} AS max_hit_frac
    FROM t GROUP BY source ORDER BY source
    """,
    "corpus safety gate (word-filter family): the C4 badwords / Dolma "
    "blocklist stage — docs whose blocklisted-token share exceeds 8% "
    "of tokens are flagged, per-source breakdown with total hits and "
    "the worst per-doc fraction. Membership-based, complementing the "
    "STATISTICAL Gopher rules and the trained classifier/LM gates: a "
    "fraction threshold (not C4's any-hit drop) so one incidental term "
    "cannot kill a long document. The flag compare is integer-exact "
    "(hits*100 > 8*n_toks) so both engines agree bit-for-bit; the "
    "blocklist rides as a constant array literal into codegen'd "
    "array_contains — no UDF, no join (functions/text.py::"
    "blocklist_hits documents the explode+broadcast-semi-join form for "
    "real thousands-of-terms lists)",
)
def q_blocklist_filter_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        TX.token_count(F.lower(F.col("text"))).alias("n_toks"),
        TX.blocklist_hits(F.col("text"), _BLOCKLIST_TERMS).alias("hits"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("hits") * 100 > F.col("n_toks") * 8).cast("long")
            ).alias("n_flagged"),
            F.sum("hits").alias("total_hits"),
            round_half_up(
                F.max(F.col("hits") / F.col("n_toks").cast("double")), 4
            ).alias("max_hit_frac"),
        )
        .orderBy("source")
    )


# The driver's correctness harness checks a fixed-size prefix (50) of the
# registry dict. Every query carries a DuckDB oracle, but the registry is
# larger than 50, so the window ROTATES per round to accumulate driver
# coverage. History: rounds 1-3 covered the operator-family core; round
# 4 covered the pandas/UDTF/data-source/corpus surface; round 5 went
# 50/50; round 6 closed the books — every one of the 146 registry
# queries has been driver-green at least once, zero red rows ever.
# From round 7 on the window is purely a FRESHNESS rotation: it holds
# (a) any query that is new or whose semantics changed this round,
# (b) every row whose last driver check is oldest, so no row's last
# driver-green ages past ~3 rounds.
# Round 15: freshness rotation per the standing contract (VERDICT r14
# #1 prescribed this set). Registry is 206 rows (205 at the r14 close
# + streaming_admit_fold_maintain_gate, new this round); at a 50-slot
# window the full rotation period is ~4.1 rounds, so the freshness
# contract is "no row >~4 rounds since last driver-green" (the ~3 in
# older comments was arithmetically unholdable past 150 rows; it has
# been de facto 4 since r13 — VERDICT r14 #1 restated it).
# Last-green histogram entering r15 (diff of CORRECTNESS_r01-r14):
# r16 window per the standing rotation contract (set in r15, executed
# here): it LEADS with the ONE row that landed after the r15 window
# was frozen — streaming_vector_admit_fold_maintain_gate (the
# embedding twin of the composition row; oracle-verified green at
# sf0.001 AND sf0.01 the day it landed) — then the SIX r11 rows the
# r15 window deferred (in_subquery_filter, large_quantity_orders,
# like_and_regex_filters, local_supplier_volume,
# small_quantity_revenue, top_supplier_by_revenue — 5 rounds stale,
# the oldest driver evidence in the registry), then 43 of the 50
# r12-cohort rows (now the stalest checked cohort, 4 rounds old —
# and the cohort holding most of the streaming/lifecycle rows this
# optimization round touches: re-checking them the round their
# shuffle sizing changed is the point of the rotation). The 7
# deferred r12 rows — airline_rollup_metrics, bloom_prefilter_semi_
# join, chunk_null_doc_stats, dominant_part_suppliers,
# props_key_counts, recent_orders_per_customer, supplier_part_variety
# — are simple relational aggregates/probes the per-round parity
# sweep covers identically; they MUST LEAD the r17 window. Everything
# rotated out stays parity-tested every round by
# tests/test_oracle_parity.py. Registry count: 207.
_CHECKED_WINDOW = [
    # ---- landed after the r15 window froze (standing contract) ----
    "streaming_vector_admit_fold_maintain_gate",
    # ---- r11 rows deferred by the r15 window (5 rounds stale) ----
    "in_subquery_filter", "large_quantity_orders",
    "like_and_regex_filters", "local_supplier_volume",
    "small_quantity_revenue", "top_supplier_by_revenue",
    # ---- last driver-green r12: 43 of 50 (7 deferred, lead r17) ----
    "blocklist_filter_stats", "bpe_pair_counts",
    "canonical_doc_selection", "dedup_gate_after_reband",
    "dedup_gate_after_retraction", "dsir_selection_by_source",
    "duplicate_span_stats", "embedding_ingest_gate",
    "embedding_near_dups", "grouped_corr_arrow",
    "hll_distinct_estimate", "image_resize_batch",
    "incremental_dedup_via_index", "incremental_minhash_dedup",
    "knn_ivf", "knn_label_vote",
    "knn_lsh", "knn_via_pq_ivf_index",
    "knn_via_refitted_ivf_index", "lm_fluency_by_source",
    "ngram_overlap_contamination", "perplexity_bucket_mix",
    "pricing_summary", "quality_classifier_scores",
    "range_join_views_after_purchase", "revenue_by_nation",
    "route_metrics", "salted_agg_order_totals",
    "sessionize", "shipping_priority",
    "source_overlap_matrix", "source_quality_gate",
    "span_removal_stats", "streaming_ann_annotate_pq",
    "streaming_dedup_events", "streaming_interval_join_views",
    "streaming_interval_left_join_views",
    "streaming_session_window_counts", "streaming_state_migration",
    "streaming_tumbling_window_counts", "training_shard_manifest",
    "udtf_dynamic_json_fields", "video_frame_sample_counts",
]



def registry() -> dict[str, QueryDef]:
    """All queries: the hand-picked 50-slot checked window first, then
    every remaining query in definition order."""
    by_name = {q.name: q for q in REGISTRY}
    missing = [n for n in _CHECKED_WINDOW if n not in by_name]
    if missing:
        raise KeyError(f"_CHECKED_WINDOW names not in REGISTRY: {missing}")
    rest = [q.name for q in REGISTRY if q.name not in set(_CHECKED_WINDOW)]
    return {n: by_name[n] for n in [*_CHECKED_WINDOW, *rest]}
