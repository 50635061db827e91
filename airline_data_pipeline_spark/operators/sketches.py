"""Mergeable sketch operators: HyperLogLog distinct-count estimation and
Bloom-filter pre-filtering, both built on the engine-portable 60-bit md5
hash so a SQL oracle can reproduce every register bit-for-bit.

At 100 TB these are the shapes that matter:

- `hll_estimate` replaces a full `COUNT(DISTINCT x)` shuffle (O(distinct
  values) exchanged, with the notorious single-reducer final merge for
  global counts) with a two-level aggregation over at most 2^p = 512
  registers — the shuffle payload is bounded by the sketch size no
  matter how many rows or distinct values feed it, and registers merge
  associatively (max per bucket) so map-side partial aggregation does
  almost all the work.
- `bloom_*` implements the build/probe sides of a semi-join pre-filter:
  the dim side compresses to <= m_bits set positions, the fact side
  drops non-matching rows *before* the expensive join/shuffle. Spark's
  own runtime row-group filters do this opaquely; this operator makes
  the technique explicit, deterministic, and oracle-checkable (a Bloom
  filter has no false negatives, so bloom_pass is always a superset of
  the exact semi-join — the query surfaces the false-positive count).

Determinism notes (what makes the estimate hash-matchable):
- the register sum is computed in *integer* arithmetic — each register
  contributes 2^(SCALE - maxrho) as a BIGINT, so the sum is exact and
  independent of aggregation order (a float Σ2^-rho would round
  differently under Spark's vs DuckDB's reduction trees);
- rho is a trailing-zero count extracted via `w & -w` (lowest set bit)
  and `round(log2(...))` — log2 of an exact power of two is within
  1 ulp of an integer in every libm, so the round() is exact;
- the final estimate is one double expression with an identical shape
  on both engines, rounded through the portable floor formula.

Reference parity: the reference has no sketches (SURVEY.md §2.10
north-star scope); the algorithm is Flajolet et al.'s HyperLogLog
(2007) with the standard small-range correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airline_data_pipeline_spark.functions.numeric import round_half_up
from airline_data_pipeline_spark.io.localrel import local_df
from airline_data_pipeline_spark.functions.text import portable_hash60

# Registers contribute 2^(SCALE - maxrho); SCALE=50 keeps the exact
# integer sum under 2^59 for p<=9 (512 registers * 2^50).
_SCALE = 50


def _alpha(m: int) -> float:
    """HLL bias-correction constant; the m>=128 branch of the published
    piecewise table."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, col: str, p: int = 9, group_cols: list[str] | None = None
) -> DataFrame:
    """(bucket, maxrho) registers of an HLL sketch over ``col`` —
    one sketch per group when ``group_cols`` is given.

    bucket = low p bits of the portable 60-bit hash; rho = trailing-zero
    count of the remaining bits + 1 (geometric, like the canonical
    leading-zero rank), capped at _SCALE so the integer register term
    2^(_SCALE-rho) never goes negative. Registers are mergeable: union
    of sketches = groupBy(bucket).max(maxrho) — collapsing the group
    column merges the per-group sketches into one (see
    `hll_estimate_from_registers`), which is the whole point of keeping
    sketches instead of exact distinct sets per group/shard/day.
    """
    m = 1 << p
    gcols = group_cols or []
    h = portable_hash60(F.col(col).cast("string"))
    w = F.shiftright(h, p)
    lowest = w.bitwiseAND(-w)
    rho = F.when(w == 0, F.lit(60 - p + 1)).otherwise(
        F.round(F.log2(lowest)).cast("int") + F.lit(1)
    )
    return (
        df.select(
            *[F.col(c) for c in gcols],
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            F.least(rho, F.lit(_SCALE)).alias("rho"),
        )
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("maxrho"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, p: int = 9, group_cols: list[str] | None = None
) -> DataFrame:
    """Distinct estimate(s) from a (``group_cols``…, bucket, maxrho)
    register table — the second half of `hll_estimate`, split out so
    callers can MERGE register tables (union + groupBy(bucket).max)
    before estimating. Same raw-estimate + linear-counting correction.
    """
    m = 1 << p
    gcols = group_cols or []
    agg = regs.groupBy(*gcols).agg(
        F.count("*").alias("nb"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_SCALE} - maxrho)")).alias(
            "s_ne"
        ),
    )
    scale_pow = float(1 << _SCALE)
    est = agg.select(
        *[F.col(c) for c in gcols],
        (F.lit(m) - F.col("nb")).alias("zeros"),
        (
            F.lit(_alpha(m) * m * m * scale_pow)
            / (
                F.col("s_ne") + (F.lit(m) - F.col("nb")) * F.lit(1 << _SCALE)
            ).cast("double")
        ).alias("e_raw"),
    )
    corrected = F.when(
        (F.col("zeros") > 0) & (F.col("e_raw") <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double")),
    ).otherwise(F.col("e_raw"))
    return est.select(
        *[F.col(c) for c in gcols], round_half_up(corrected, 4).alias("estimate")
    )


def hll_estimate(df: DataFrame, col: str, p: int = 9) -> DataFrame:
    """One-row DataFrame with the HLL distinct estimate of ``col``.

    Columns: ``estimate`` (double, rounded 4dp). The raw estimate is
    alpha_m * m^2 / Z with Z = Σ 2^-maxrho over all m buckets (empty
    buckets contribute 2^0); Z is computed exactly as an integer sum of
    2^(_SCALE-maxrho). Small-range correction: if zeros > 0 and the raw
    estimate <= 2.5m, use linear counting m * ln(m / zeros).
    """
    m = 1 << p
    regs = hll_registers(df, col, p)
    agg = regs.agg(
        F.count("*").alias("nb"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_SCALE} - maxrho)")).alias(
            "s_ne"
        ),
    )
    scale_pow = float(1 << _SCALE)
    est = agg.select(
        (F.lit(m) - F.col("nb")).alias("zeros"),
        (
            F.lit(_alpha(m) * m * m * scale_pow)
            / (
                F.col("s_ne")
                + (F.lit(m) - F.col("nb")) * F.lit(1 << _SCALE)
            ).cast("double")
        ).alias("e_raw"),
    )
    corrected = F.when(
        (F.col("zeros") > 0) & (F.col("e_raw") <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double")),
    ).otherwise(F.col("e_raw"))
    return est.select(round_half_up(corrected, 4).alias("estimate"))


def sql_hll_estimate(table_expr: str, col: str, p: int = 9) -> str:
    """DuckDB twin of `hll_estimate` — identical hash, registers, integer
    register sum, and final double expression shape."""
    m = 1 << p
    scale_int = 1 << _SCALE
    # The bias numerator is computed in Python and emitted in E-notation:
    # DuckDB parses exponent literals as DOUBLE (plain high-precision
    # decimals parse as DECIMAL and double-round on the cast), so this is
    # the exact double the Spark side uses in F.lit().
    numerator = _alpha(m) * m * m * float(scale_int)
    return f"""
    WITH hll_h AS (
      SELECT (('0x' || substr(md5(CAST({col} AS VARCHAR)),1,15))::BIGINT) AS hv
      FROM {table_expr}
    ),
    hll_b AS (
      SELECT (hv & {m - 1}) AS bucket, (hv >> {p}) AS w FROM hll_h
    ),
    hll_r AS (
      SELECT bucket,
             LEAST(CASE WHEN w = 0 THEN {60 - p + 1}
                        ELSE CAST(round(log2(w & (-w))) AS INT) + 1 END,
                   {_SCALE}) AS rho
      FROM hll_b
    ),
    hll_m AS (SELECT bucket, MAX(rho) AS maxrho FROM hll_r GROUP BY bucket),
    hll_a AS (
      SELECT COUNT(*) AS nb,
             CAST(SUM(CAST(POW(2.0, {_SCALE} - maxrho) AS BIGINT)) AS BIGINT) AS s_ne
      FROM hll_m
    ),
    hll_e AS (
      SELECT ({m} - nb) AS zeros,
             {numerator:.17e}
               / CAST(s_ne + ({m} - nb) * {scale_int} AS DOUBLE) AS e_raw
      FROM hll_a
    )
    SELECT CASE WHEN zeros > 0 AND e_raw <= {2.5 * m:.17e}
                THEN {float(m):.17e} * ln({float(m):.17e} / CAST(zeros AS DOUBLE))
                ELSE e_raw END AS est
    FROM hll_e
    """


def _bloom_pos(value, seed, m_bits: int):
    """Bloom position of ``value`` under hash ``seed``: the portable
    60-bit hash of 'bloom<j>:<value>' mod m_bits. One definition shared
    by build and probe (and mirrored literally in the SQL oracle) so
    the no-false-negative guarantee is by construction."""
    return F.pmod(
        portable_hash60(
            F.concat(
                F.lit("bloom"),
                seed.cast("string") if hasattr(seed, "cast") else F.lit(str(seed)),
                F.lit(":"),
                value.cast("string"),
            )
        ),
        F.lit(m_bits),
    )


def bloom_positions(df: DataFrame, col: str, m_bits: int = 4096, k: int = 3) -> DataFrame:
    """Build side: the distinct Bloom bit positions set by ``col``'s
    values — k portable hashes per value, each mod m_bits. At most
    m_bits rows regardless of build cardinality (the broadcastable
    'filter' itself)."""
    seeds = F.array(*[F.lit(j) for j in range(1, k + 1)])
    pos = F.explode(F.transform(seeds, lambda j: _bloom_pos(F.col(col), j, m_bits)))
    return df.select(pos.alias("pos")).distinct()


def bloom_probe(
    probe: DataFrame,
    positions: DataFrame,
    col: str,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Probe side: rows of ``probe`` whose k Bloom positions are ALL
    present in ``positions``. No false negatives by construction.

    Shape: k chained broadcast LEFT SEMI joins, one per hash seed —
    the position set is sketch-sized (<= m_bits rows) so every join
    broadcasts, the probe side never shuffles, and row multiplicity is
    preserved exactly (a semi join can only drop, never collapse).
    All k joins fuse into one probe-side stage: each row streams
    through k hash-table lookups, which is literally the in-memory
    Bloom-check loop expressed as a Catalyst plan. (An earlier
    formulation counted hits via groupBy(*probe.columns) — a full-width
    shuffle of the fact table that also collapsed duplicate rows; the
    exact costs a pre-filter exists to avoid.)
    """
    # alias the sketch side: an unqualified F.col(col) against
    # positions["pos"] becomes ambiguous if the probe itself has a
    # column named "pos" — qualify both sides instead
    pos_set = positions.select(F.col("pos").alias("__bloom_pos"))
    out = probe
    for j in range(1, k + 1):
        out = out.join(
            F.broadcast(pos_set),
            on=_bloom_pos(out[col], F.lit(j), m_bits) == pos_set["__bloom_pos"],
            how="left_semi",
        )
    return out


def cms_counters(
    df: DataFrame, col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-Min sketch counters over ``col``: (seed, pos, cnt) with at
    most depth × width rows regardless of input cardinality.

    Like the HLL registers, the payoff is the aggregation shape: exact
    per-key counts shuffle O(distinct keys); the sketch partial-
    aggregates into a fixed depth×width grid (map-side combine does
    nearly all the work) and counters merge by simple addition, so
    incremental corpus growth is a counter sum, not a recount.
    """
    seeds = F.array(*[F.lit(j) for j in range(1, depth + 1)])
    cell = F.explode(
        F.transform(
            seeds,
            lambda j: F.struct(
                j.alias("seed"),
                F.pmod(
                    portable_hash60(
                        F.concat(
                            F.lit("cms"),
                            j.cast("string"),
                            F.lit(":"),
                            F.col(col).cast("string"),
                        )
                    ),
                    F.lit(width),
                ).alias("pos"),
            ),
        )
    )
    return (
        df.select(cell.alias("c"))
        .select("c.seed", "c.pos")
        .groupBy("seed", "pos")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    counters: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch: for each key row, the estimate is the MIN
    counter across its depth cells (classic CM guarantee: estimate >=
    true count, over-estimate bounded by e·N/width w.p. 1−e^−depth).
    The counters table is sketch-sized — always broadcastable."""
    seeds = F.array(*[F.lit(j) for j in range(1, depth + 1)])
    cells = keys.select(
        F.col(col),
        F.explode(
            F.transform(
                seeds,
                lambda j: F.struct(
                    j.alias("seed"),
                    F.pmod(
                        portable_hash60(
                            F.concat(
                                F.lit("cms"),
                                j.cast("string"),
                                F.lit(":"),
                                F.col(col).cast("string"),
                            )
                        ),
                        F.lit(width),
                    ).alias("pos"),
                ),
            )
        ).alias("c"),
    ).select(F.col(col), F.col("c.seed").alias("seed"), F.col("c.pos").alias("pos"))
    joined = cells.join(F.broadcast(counters), ["seed", "pos"], "left").select(
        F.col(col), F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt")
    )
    return joined.groupBy(col).agg(F.min("cnt").alias("cms_estimate"))


def histogram_counts(df: DataFrame, col: str, bins: int = 1024) -> DataFrame:
    """Equal-width histogram sketch over a numeric column: (bin, cnt)
    with at most ``bins`` + 1 rows (one extra row carries NULL bin for
    the min/max metadata join below — none here; nulls are dropped).

    Two jobs total: a scalar min/max aggregate (broadcast back as a
    1-row dimension, never a driver collect in the operator itself),
    then one fixed-width partial aggregate — the same mergeable-sketch
    shape as the HLL/CMS grids: shuffle O(bins), not O(distinct),
    counters merge by addition for incremental data.
    """
    stats = df.agg(
        F.min(F.col(col).cast("double")).alias("__lo"),
        F.max(F.col(col).cast("double")).alias("__hi"),
    )
    with_stats = df.select(F.col(col).cast("double").alias("__x")).join(
        F.broadcast(stats)
    )
    width = (F.col("__hi") - F.col("__lo")) / bins
    bin_ = F.least(
        F.lit(bins - 1),
        F.floor((F.col("__x") - F.col("__lo")) / width).cast("long"),
    )
    return (
        with_stats.filter(F.col("__x").isNotNull())
        .select(bin_.alias("bin"), "__lo", "__hi")
        .groupBy("bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_quantiles(
    df: DataFrame, col: str, qs: list[float], bins: int = 1024
) -> DataFrame:
    """Quantile estimates from the histogram sketch: for each q, the
    midpoint of the first bin whose cumulative count reaches q·N.
    Error is bounded by one bin width — (max−min)/bins — regardless of
    data size, and the sketch merges across shards by adding counters
    (what approx_percentile gives up: its digest isn't engine-portable,
    so an oracle can't verify it; this one is deterministic IEEE
    arithmetic end to end).

    The cumulative window runs over the sketch (≤ bins rows), not the
    data, and ALL quantiles are answered in one pass: the (tiny) q-list
    broadcast-joins the cumulative sketch and `min_by` picks the first
    qualifying bin per q — the data is scanned exactly once no matter
    how many quantiles are requested.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    h = histogram_counts(df, col, bins)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.withColumn("__cum", F.sum("cnt").over(w)).withColumn(
        "__n", F.sum("cnt").over(Window.partitionBy())
    )
    width = (F.col("__hi") - F.col("__lo")) / bins
    est = F.col("__lo") + (F.col("bin") + F.lit(0.5)) * width
    # local_df: a parallelized-Python qdf would scan as 32 Python-worker
    # slices for a handful of quantile rows (io/localrel.py)
    qdf = local_df(spark, [(float(q),) for q in qs], "q double")
    return (
        cum.join(F.broadcast(qdf))
        .filter(F.col("__cum") >= F.col("q") * F.col("__n"))
        .groupBy("q")
        .agg(F.min_by(est, F.col("bin")).alias("estimate"))
        .orderBy("q")
    )


def _misra_gries_partition(rows, col: str, k: int):
    """Per-partition Misra-Gries summary: at most ``k`` counters.

    Invariant (per summary): for every value v,
    count(v) - n/k <= mg[v] <= count(v) — decrement steps remove one
    occurrence of k+1 DISTINCT values at once, and there are at most
    n/k such steps. Summaries merge by adding counters then re-trimming,
    preserving the invariant over the union, so any value with true
    frequency > n/(k+1) MUST survive with a positive merged counter:
    the merged summary is a guaranteed candidate superset.

    Each summary row also carries (pid, part_rows) — the partition id
    and its scanned row count — so callers can recover the global n by
    summing part_rows over distinct pids, WITHOUT a separate counting
    scan of the source (a full extra scan is real money at 100 TB).
    A partition whose counters cancel to empty (possible: k counters
    all at 1, then a decrement) still emits one NULL-value meta row so
    its part_rows is never lost.
    """
    import pandas as pd
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    n_rows = 0
    counters: dict = {}
    for pdf in rows:
        n_rows += len(pdf)
        for v in pdf[col]:
            if v in counters:
                counters[v] += 1
            elif len(counters) < k:
                counters[v] = 1
            else:
                dead = []
                for key in counters:
                    counters[key] -= 1
                    if counters[key] == 0:
                        dead.append(key)
                for key in dead:
                    del counters[key]
    values = list(counters.keys()) or [None]
    counts = list(counters.values()) or [0]
    yield pd.DataFrame(
        {
            "value": values,
            "mg_count": counts,
            "pid": [pid] * len(values),
            "part_rows": [n_rows] * len(values),
        }
    )


def _mg_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """Lazy per-partition MG summaries (value, mg_count, pid,
    part_rows) over the non-null string cast of ``col``.

    The summary, at most k counters per partition, is the unit of
    exchange instead of O(distinct values). The pass is an
    Arrow-batched `mapInPandas` because Misra-Gries is inherently
    sequential per partition (SURVEY §2.9 tier: custom sequential
    sketch state)."""
    src = df.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    schema = "value string, mg_count long, pid int, part_rows long"
    return src.mapInPandas(
        lambda rows: _misra_gries_partition(rows, "value", k), schema
    )


def heavy_hitters(df: DataFrame, col: str, k: int = 50) -> DataFrame:
    """(value, cnt) — EXACT heavy hitters: every value occurring more
    than n/k times, with its exact count. Deterministic regardless of
    partitioning, so SQL-oracle-checkable.

    Exactly TWO scans of the source (was three — the separate
    `src.count()` job is gone; each MG partition summary carries its
    own row count, so n falls out of the same pass that builds the
    candidates):
    1. Misra-Gries candidates (capacity 4k so the per-summary error
       n/(4k) is far under the n/k threshold) — a guaranteed superset
       of the true heavy set with bounded state. The per-partition
       summary (≤ 4k·partitions rows, tiny) is persist()-ed just long
       enough for the two driver-side reads — n (sum of part_rows over
       distinct pids) and the distinct candidate values — then
       unpersist()-ed BEFORE this function returns, so repeated calls
       in a long-lived session cannot accumulate cached relations.
       The candidate list is collect()-ed to the driver on purpose:
       it is broadcast to the verify join either way, so it is
       driver-sized by necessity, and an eager list lets the cache be
       released instead of leaking one pinned relation per call.
    2. Exact verify: broadcast the (≤ candidate-sized) value list,
       semi-join the source against it, and count ONLY those values —
       the expensive exact aggregation runs over the candidate subset,
       never the full cardinality. Filter by the exact threshold
       cnt·k > n (integer cross-multiplication — no float division on
       the comparison path).

    Output equals `GROUP BY value HAVING count·k > n` exactly — the
    sketch bounds intermediate state; the verify pass removes its
    approximation. Same candidates→verify shape as the dedup family.
    """
    src = df.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    # One scan: the tiny per-partition summary is cached only for the
    # two driver-side reads below, then released (see docstring)
    per_part = _mg_summaries(df, col, 4 * k).persist()
    try:
        n = (
            per_part.select("pid", "part_rows")
            .distinct()
            .agg(F.sum("part_rows"))
            .first()[0]
            or 0
        )
        cand_values = [
            r.value
            for r in per_part.filter(F.col("value").isNotNull())
            .select("value")
            .distinct()
            .collect()
        ]
    finally:
        per_part.unpersist()
    spark = df.sparkSession
    cand = local_df(spark, [(v,) for v in cand_values], "value string")
    exact = (
        src.join(F.broadcast(cand), "value", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(n))
    )
    return exact
