"""Unit tests for the round-2 scale operators: HLL sketch, Bloom
prefilter, winnowing fingerprints, stratified sampling, upsert merge."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airline_data_pipeline_spark.operators import corpus, dedup, sketches
from airline_data_pipeline_spark.operators.merge import upsert_latest


@pytest.fixture(scope="module")
def ids_df(spark):
    return spark.range(0, 5000).select(F.col("id").alias("v"))


def test_hll_registers_merge_like_a_sketch(spark, ids_df):
    """Union-then-sketch == sketch-then-merge (max per bucket): the
    mergeability that makes HLL a two-level aggregation at scale."""
    lo = ids_df.filter("v < 2500")
    hi = ids_df.filter("v >= 2500")
    whole = sketches.hll_registers(ids_df, "v").orderBy("bucket").collect()
    merged = (
        sketches.hll_registers(lo, "v")
        .unionByName(sketches.hll_registers(hi, "v"))
        .groupBy("bucket")
        .agg(F.max("maxrho").alias("maxrho"))
        .orderBy("bucket")
        .collect()
    )
    assert whole == merged


def test_hll_estimate_within_expected_error(spark, ids_df):
    est = sketches.hll_estimate(ids_df, "v", p=9).collect()[0]["estimate"]
    # sigma ~ 1.04/sqrt(512) ~ 4.6%; 3 sigma bound
    assert abs(est / 5000.0 - 1.0) < 0.14


def test_hll_estimate_duplicates_dont_move_it(spark, ids_df):
    """The sketch sees values, not rows: duplicating every row must not
    change a single register."""
    est1 = sketches.hll_estimate(ids_df, "v", p=9).collect()[0]["estimate"]
    est2 = (
        sketches.hll_estimate(ids_df.unionAll(ids_df), "v", p=9)
        .collect()[0]["estimate"]
    )
    assert est1 == est2


def test_bloom_no_false_negatives(spark):
    build = spark.range(0, 300).select((F.col("id") * 7).alias("k"))
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    pos = sketches.bloom_positions(build, "k", m_bits=4096, k=3)
    passed = {r["k"] for r in sketches.bloom_probe(probe, pos, "k", 4096, 3).collect()}
    members = {r["k"] for r in build.filter("k < 3000").collect()}
    assert members <= passed  # superset: no false negatives


def test_cms_counters_merge_by_addition(spark, ids_df):
    """Sketch-the-union == merge-the-sketches (sum per cell): the
    additivity that makes CMS an incremental-corpus counter."""
    lo = ids_df.filter("v < 2500")
    hi = ids_df.filter("v >= 2500")
    whole = {
        (r["seed"], r["pos"]): r["cnt"]
        for r in sketches.cms_counters(ids_df, "v", width=256, depth=3).collect()
    }
    merged = {
        (r["seed"], r["pos"]): r["cnt"]
        for r in sketches.cms_counters(lo, "v", width=256, depth=3)
        .unionByName(sketches.cms_counters(hi, "v", width=256, depth=3))
        .groupBy("seed", "pos")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert whole == merged


def test_cms_estimate_never_underestimates(spark):
    """The classic CM guarantee: estimate >= true count, exact for keys
    with no colliding cells."""
    rows = [(k,) for k in range(50) for _ in range(k + 1)]  # key k appears k+1×
    df = spark.createDataFrame(rows, "k long")
    counters = sketches.cms_counters(df, "k", width=1024, depth=4)
    keys = df.select("k").distinct()
    est = {
        r["k"]: r["cms_estimate"]
        for r in sketches.cms_estimate(keys, counters, "k", 1024, 4).collect()
    }
    for k in range(50):
        assert est[k] >= k + 1
    # with 50 keys in 1024-wide rows, most estimates are exact
    exact_hits = sum(1 for k in range(50) if est[k] == k + 1)
    assert exact_hits >= 45


def test_bloom_probe_preserves_duplicate_rows(spark):
    """Regression: the old groupBy-count formulation collapsed identical
    probe rows (and mis-counted their hits as 2k != k, dropping both).
    A member value appearing n times must come out exactly n times."""
    build = spark.createDataFrame([(7,), (11,)], "k long")
    probe = spark.createDataFrame([(7,), (7,), (7,), (11,), (999,)], "k long")
    pos = sketches.bloom_positions(build, "k", m_bits=4096, k=3)
    out = [r["k"] for r in sketches.bloom_probe(probe, pos, "k", 4096, 3).collect()]
    assert sorted(x for x in out if x == 7) == [7, 7, 7]
    assert out.count(11) == 1
    # 999 may only survive as a false positive of ALL 3 hashes — with
    # 6 set bits of 4096 that's (6/4096)^3; treat survival as failure
    assert out.count(999) == 0


def test_bloom_probe_tolerates_pos_column_on_probe(spark):
    """Regression (ADVICE r4): a probe DataFrame whose filtered column —
    or any other column — is named 'pos' must not make the join
    condition ambiguous against the sketch side's position column."""
    build = spark.createDataFrame([(7,), (11,)], "pos long")
    probe = spark.createDataFrame([(7, 1), (999, 2)], "pos long, other long")
    positions = sketches.bloom_positions(build, "pos", m_bits=4096, k=3)
    out = [r["pos"] for r in sketches.bloom_probe(probe, positions, "pos", 4096, 3).collect()]
    assert out == [7]


def test_bloom_probe_plan_no_probe_side_shuffle(spark):
    """The probe side must stream through k broadcast semi joins — no
    Exchange (shuffle) and no aggregation anywhere in the plan."""
    build = spark.range(0, 100).select((F.col("id") * 3).alias("k"))
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    pos = sketches.bloom_positions(build, "k", m_bits=4096, k=3)
    plan = (
        sketches.bloom_probe(probe, pos, "k", 4096, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    probe_side = plan.split("BroadcastExchange")[0]  # above = probe stream
    assert "Exchange hashpartitioning" not in probe_side
    assert "HashAggregate" not in probe_side
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftSemi" in plan


def test_winnow_shared_substring_guarantee(spark):
    """Any shared word run of >= window + k - 1 words yields a shared
    fingerprint (the winnowing guarantee, SIGMOD 2003 §2)."""
    common = "alpha beta gamma delta epsilon zeta"  # 6 words = 4 + 3 - 1
    rows = [
        (1, "one two three " + common + " four five six"),
        (2, "seven eight " + common + " nine ten eleven twelve"),
        (3, "totally unrelated words with nothing in common here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.winnow_shared_pairs(df, min_shared=1).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in keys
    assert all(3 not in k for k in keys)


def test_winnow_short_doc_single_fingerprint(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    fp = dedup.winnow_fingerprints(df).collect()[0]["__wfp"]
    assert len(fp) == 1


def test_winnow_retention_rate(spark):
    """Fingerprint density over a long random-ish doc ~ 2/(w+1)."""
    words = " ".join(f"w{(i * 37) % 997}x{i % 53}" for i in range(600))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    fp = dedup.winnow_fingerprints(df, window=4).collect()[0]["__wfp"]
    assert 0.2 < len(fp) / 598.0 < 0.6  # 2/(4+1) = 0.4 expected


def test_stratified_sample_is_growth_stable(spark):
    """Sampling a subset == subsetting the sample: adding new rows never
    flips the keep/drop decision of existing rows."""
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("s"),
    )
    frac = {"a": 0.5, "b": 0.1}
    whole = {
        r["k"]
        for r in corpus.stratified_sample(df, "s", frac, "k").collect()
    }
    part = {
        r["k"]
        for r in corpus.stratified_sample(
            df.filter("k < 2000"), "s", frac, "k"
        ).collect()
    }
    assert part == {k for k in whole if k < 2000}


def test_stratified_sample_fractions_roughly_hold(spark):
    df = spark.range(0, 10000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    got = {
        r["s"]: r["n"]
        for r in corpus.stratified_sample(df, "s", {"a": 0.3}, "k", 0.05)
        .groupBy("s")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert abs(got["a"] / 5000.0 - 0.3) < 0.05
    assert abs(got.get("b", 0) / 5000.0 - 0.05) < 0.02


def test_upsert_latest_wins_and_idempotent(spark):
    base = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 1), (3, "z", 1)], "k long, v string, version int"
    )
    delta = spark.createDataFrame(
        [(2, "Y2", 2), (4, "new", 2)], "k long, v string, version int"
    )
    merged = upsert_latest(base, delta, ["k"], "version")
    got = {r["k"]: (r["v"], r["version"]) for r in merged.collect()}
    assert got == {1: ("x", 1), 2: ("Y2", 2), 3: ("z", 1), 4: ("new", 2)}
    # replaying the same delta changes nothing
    again = upsert_latest(merged, delta, ["k"], "version")
    assert {r["k"]: (r["v"], r["version"]) for r in again.collect()} == got


def test_histogram_quantiles_within_one_bin_width(spark):
    """Histogram-sketch quantile estimates must land within one bin
    width of the exact quantiles, and the sketch must stay sketch-sized
    (<= bins rows) no matter the input."""
    import numpy as np

    rng = np.random.RandomState(7)
    vals = np.concatenate([rng.normal(100, 15, 4000), rng.exponential(50, 1000)])
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")

    bins = 256
    h = sketches.histogram_counts(df, "x", bins=bins)
    assert h.count() <= bins

    qs = [0.5, 0.9, 0.99]
    got = {r["q"]: r["estimate"] for r in sketches.histogram_quantiles(df, "x", qs, bins=bins).collect()}
    lo, hi = float(vals.min()), float(vals.max())
    width = (hi - lo) / bins
    for q in qs:
        exact = float(np.quantile(vals, q))
        assert abs(got[q] - exact) <= width + 1e-9, (q, got[q], exact, width)


def test_heavy_hitters_exact_under_adversarial_partitioning(spark):
    """The two-pass operator's contract: output equals the exact
    GROUP BY ... HAVING cnt*k > n heavy set regardless of how the data
    is partitioned — the MG candidate pass is approximate, the verify
    pass removes the approximation."""
    import random

    rng = random.Random(11)
    # one dominant value (30%), a mid value just over n/k, and a long
    # uniform tail far below threshold
    rows = (
        [("dominant",)] * 3000
        + [("edge",)] * 600
        + [(f"tail{i % 500}",) for i in range(6400)]
    )
    rng.shuffle(rows)
    for parts in (1, 7, 32):
        df = spark.createDataFrame(rows, "v string").repartition(parts)
        got = {
            (r["value"], r["cnt"])
            for r in sketches.heavy_hitters(df, "v", k=10).collect()
        }
        # n=10000, threshold n/k=1000: dominant (3000) qualifies; edge
        # (600) and every tail value (~13) do not
        assert got == {("dominant", 3000)}, (parts, got)
        got25 = {
            (r["value"], r["cnt"])
            for r in sketches.heavy_hitters(df, "v", k=25).collect()
        }
        # threshold 400: dominant + edge
        assert got25 == {("dominant", 3000), ("edge", 600)}, (parts, got25)
