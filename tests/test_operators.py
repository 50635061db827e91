"""Unit tests for engine operators: as-of join vs pandas merge_asof,
dedup family properties, cleaning/validation semantics, HHMM time math,
top-k determinism."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.functions.timefmt import (
    hhmm_delay_minutes,
    hhmm_delay_naive,
    hhmm_to_display,
    hhmm_to_minutes,
)
from airline_data_pipeline_spark.operators.asof import asof_join
from airline_data_pipeline_spark.operators.cleaning import (
    drop_mostly_null,
    null_fractions,
)
from airline_data_pipeline_spark.operators.dedup import (
    dedup_exact_text,
    dedup_minhash,
    minhash_candidates,
    simhash_near_dups,
)
from airline_data_pipeline_spark.operators.topk import top_k, top_k_rows
from airline_data_pipeline_spark.operators.validation import (
    ValidationError,
    expect,
    require_types,
)
from tests.conftest import spark_jobs


# ---------------------------------------------------------------------------
# as-of join vs pandas merge_asof (independent oracle)
# ---------------------------------------------------------------------------
def test_asof_join_matches_merge_asof(spark):
    base = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, i % 5, base + dt.timedelta(minutes=7 * i)) for i in range(100)
    ]
    right_rows = [
        (j % 5, base + dt.timedelta(minutes=11 * j), float(j)) for j in range(60)
    ]
    left = spark.createDataFrame(left_rows, "id long, key long, ts timestamp")
    right = spark.createDataFrame(right_rows, "key long, ts timestamp, v double")

    got = {
        r["id"]: r["v_asof"]
        for r in asof_join(left, right, on="ts", by=["key"], right_cols=["v"]).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["id", "key", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["key", "ts", "v"]).sort_values("ts")
    exp_df = pd.merge_asof(lp, rp, on="ts", by="key")
    expected = {
        int(r.id): (None if pd.isna(r.v) else float(r.v)) for r in exp_df.itertuples()
    }
    assert got == expected


def test_asof_exact_time_match_included(spark):
    left = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1, 12, 0, 0))], "id long, key long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0, 0), 42.0)], "key long, ts timestamp, v double"
    )
    out = asof_join(left, right, on="ts", by=["key"], right_cols=["v"]).collect()
    assert out[0]["v_asof"] == 42.0


# ---------------------------------------------------------------------------
# dedup properties
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(30):
        # 12 tokens, vocabulary disjoint across docs → cross-doc Jaccard 0
        body = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, body, "en", "src0", len(body)))
    # exact dup + case-only dup of doc 0
    rows.append((100, rows[0][1], "en", "src1", len(rows[0][1])))
    rows.append((101, rows[0][1].upper(), "en", "src1", len(rows[0][1])))
    # near-dup of doc 0: last token changed → 1 of 11 distinct shingles
    # differs → Jaccard 9/11 ≈ 0.82
    near = rows[0][1].rsplit(" ", 1)[0] + " changed"
    rows.append((102, near, "en", "src1", len(near)))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


def test_exact_dedup_normalized_and_deterministic(docs):
    kept = dedup_exact_text(docs)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids  # min id survives
    assert 100 not in ids and 101 not in ids  # exact + case dup removed
    assert 102 in ids  # near-dup is NOT exact
    assert dedup_exact_text(kept).count() == kept.count()  # idempotent


def test_exact_dedup_keeps_full_min_id_row(spark):
    """min_by must return the ENTIRE row of the min-id survivor, not a
    mix of columns from different duplicates, and each key yields
    exactly one row even when every input row is a duplicate."""
    from airline_data_pipeline_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(7, "k", "late"), (3, "k", "early"), (5, "k", "mid"),
         (9, "z", "only")],
        "doc_id long, key string, payload string",
    )
    out = {tuple(r) for r in dedup_exact(df, ["key"], "doc_id").collect()}
    assert out == {(3, "k", "early"), (9, "z", "only")}


def test_minhash_finds_planted_near_dup(docs):
    cands = minhash_candidates(docs, num_hashes=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 102) in pairs  # 9/11 shingles shared → must collide somewhere


def test_minhash_dedup_removes_planted(docs):
    kept = dedup_minhash(docs, threshold=0.7, bands=16)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids
    assert not {100, 101, 102} & ids  # exact, case, and near dups all dropped
    assert set(range(1, 30)) <= ids  # disjoint-vocab docs untouched
    assert dedup_minhash(kept, threshold=0.7, bands=16).count() == kept.count()


def test_minhash_against_reference_drops_only_cross_set_dups(docs, spark):
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_reference,
    )

    ref = docs.filter("source = 'src0'")
    new = docs.filter("source = 'src1'")
    kept = dedup_minhash_against_reference(new, ref, threshold=0.7, bands=16)
    # 100 (exact), 101 (case-only) and 102 (J≈0.82) all near-dup ref doc 0
    assert kept.count() == 0

    # a batch with INTERNAL dups but no ref overlap is never self-filtered
    body = " ".join(f"fresh{j}" for j in range(12))
    batch = spark.createDataFrame(
        [(200, body, "en", "srcX", len(body)), (201, body, "en", "srcX", len(body))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kept2 = dedup_minhash_against_reference(batch, ref, threshold=0.7, bands=16)
    assert {r["doc_id"] for r in kept2.collect()} == {200, 201}

    # union-side hot-bucket cap path executes (cap below bucket sizes →
    # recall collapses by design, nothing is dropped)
    capped = dedup_minhash_against_reference(
        new, ref, threshold=0.7, bands=16, max_bucket_size=1
    )
    assert capped.count() == new.count()


def test_minhash_index_roundtrip_equals_direct_gate(docs, tmp_path):
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
        dedup_minhash_against_reference,
        write_minhash_index,
    )

    ref = docs.filter("source = 'src0'")
    new = docs.filter("source != 'src0'")
    root = str(tmp_path / "mhidx")
    write_minhash_index(ref, root, num_hashes=32, bands=16)
    via_index = {
        r["doc_id"]
        for r in dedup_minhash_against_index(new, root, threshold=0.7).collect()
    }
    direct = {
        r["doc_id"]
        for r in dedup_minhash_against_reference(
            new, ref, threshold=0.7, bands=16
        ).collect()
    }
    assert via_index == direct
    # the meta table drives banding: stored params round-trip
    meta = docs.sparkSession.read.parquet(root + "/meta").first()
    assert (meta["num_hashes"], meta["bands"], meta["shingle_k"]) == (32, 16, 3)


def test_one_shot_minhash_gates_leave_no_pinned_cache(docs, spark, tmp_path):
    """The one-shot gate helpers return lazy plans, so any .persist()
    inside them could never be unpersisted — repeated calls in a
    long-lived session (a driver looping batches, the 50-query oracle
    harness) would pin CacheManager entries forever. Contract: after
    consuming their results, the SQL cache is exactly as empty as it
    started; callers that want shingle reuse own the lifecycle via
    gate_against_loaded_index."""
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
        dedup_minhash_against_reference,
        write_minhash_index,
    )

    spark.catalog.clearCache()
    ref = docs.filter("source = 'src0'")
    new = docs.filter("source != 'src0'")
    dedup_minhash_against_reference(new, ref, threshold=0.7, bands=16).collect()
    root = str(tmp_path / "mhidx_cache")
    write_minhash_index(ref, root, num_hashes=32, bands=16)
    dedup_minhash_against_index(new, root, threshold=0.7).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_identical_distance_zero(docs):
    pairs = simhash_near_dups(docs, max_hamming=3).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert by_pair.get((0, 100)) == 0  # identical text → identical fingerprint


def test_simhash_fingerprints_null_and_blank_text_are_zero(spark):
    """NULL, empty and whitespace-only docs have no tokens and land on
    fingerprint 0 (the oracle's COALESCE(sim, 0)); real text does not,
    in both the default and the portable (oracle) hash forms."""
    from airline_data_pipeline_spark.functions.text import portable_hash60
    from airline_data_pipeline_spark.operators.dedup import simhash_fingerprints

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "the quick brown fox")],
        "doc_id long, text string",
    )
    for kwargs in ({}, {"n_bits": 60, "token_hash": portable_hash60}):
        fp = {
            r["doc_id"]: r["__sim"]
            for r in simhash_fingerprints(df, **kwargs).collect()
        }
        assert fp[1] == fp[2] == fp[3] == 0, (kwargs, fp)
        assert fp[4] != 0, (kwargs, fp)


def test_exact_jaccard_pairs_matches_set_arithmetic(docs):
    from airline_data_pipeline_spark.operators.dedup import exact_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # doc 0 vs its exact and case-only duplicates: identical shingle sets
    assert pairs[(0, 100)] == 1.0
    assert pairs[(0, 101)] == 1.0
    # planted near-dup: 9 of 11 shingles shared, union 13 → wait: 10
    # distinct shingles each, 9 shared → 9/11
    assert abs(pairs[(0, 102)] - 9 / 11) < 1e-12
    # disjoint-vocab docs never pair
    assert all(a >= 0 and (a, b) not in pairs for a in range(1, 29) for b in (a + 1,))


def test_connected_components_merge_transitive_chains(spark):
    from airline_data_pipeline_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2 (0~2 NOT paired directly), star 4-{5,6}, singleton 3, 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (4, 6)], "id_a long, id_b long"
    )
    out = connected_components(ids, pairs)
    # r15: the changed-count rides the update join as a __chg flag —
    # it must never leak into the returned schema
    assert out.columns == ["doc_id", "cluster_id"]
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 4, 7: 7}


def test_connected_components_derives_pairs_once(spark):
    """Both edge directions come from one evaluation of the pairs plan:
    a Python UDF in the pair derivation runs once per pair row."""
    from airline_data_pipeline_spark.operators.dedup import connected_components

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (4, 6)], "id_a long, id_b long"
    ).select(counted("id_a").alias("id_a"), "id_b")
    labels = {r["doc_id"]: r["cluster_id"] for r in connected_components(ids, pairs).collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 4, 7: 7}
    assert calls.value == 4


def test_prefix_filter_is_exact_and_prunes_boilerplate(spark, docs):
    from airline_data_pipeline_spark.operators.dedup import (
        exact_jaccard_pairs,
        prefix_postings,
        shingle_sets,
    )

    # exactness: prefix-filtered result identical to the naive inverted
    # index on the planted-dup fixture and on real testdata
    for frame in (docs, None):
        d = frame if frame is not None else table_docs(spark)
        naive = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in exact_jaccard_pairs(d, threshold=0.5).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in exact_jaccard_pairs(d, threshold=0.5, prefix_filter=True).collect()
        }
        assert naive == pref and naive  # nonempty on both fixtures

    # pruning: a boilerplate shingle shared by every doc (the hottest
    # key) must appear in no doc's prefix at t=0.5
    body = "common boiler plate "  # the shared 3-gram across all docs
    rows = [(i, body + " ".join(f"u{i}w{j}" for j in range(9)), "en", "s", 1) for i in range(20)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sh = shingle_sets(d)
    pp = prefix_postings(sh, "doc_id", 0.5)
    from airline_data_pipeline_spark.functions.text import shingles, tokens  # noqa: F401
    import pyspark.sql.functions as SF

    hot = (
        pp.groupBy("__s").agg(SF.count(SF.lit(1)).alias("n"))
        .agg(SF.max("n").alias("max_df"))
        .first()["max_df"]
    )
    assert hot == 1  # every doc's prefix holds only its unique shingles


def table_docs(spark):
    from airline_data_pipeline_spark.io.readers import table

    return table(spark, "/root/testdata/sf0.001", "documents")


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """Adversarial duplicate-heavy corpus: 60 identical docs — every LSH
    band maps them to ONE bucket, making the self-join quadratic."""
    body = " ".join(f"tmpl{j}" for j in range(12))
    rows = [(i, body, "en", "src0", len(body)) for i in range(60)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


def test_hot_bucket_guard_bounds_candidate_pairs(boilerplate_docs):
    # unguarded: 60 identical docs → C(60,2) = 1770 candidate pairs
    assert minhash_candidates(boilerplate_docs).count() == 1770
    # guarded at 10: every bucket holds all 60 docs → dropped entirely
    assert minhash_candidates(boilerplate_docs, max_bucket_size=10).count() == 0
    # guard leaves a mixed corpus's small buckets alone: cap above the
    # bucket population changes nothing
    assert minhash_candidates(boilerplate_docs, max_bucket_size=60).count() == 1770


def test_hot_bucket_guard_simhash_and_embeddings(spark, boilerplate_docs):
    from airline_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    assert simhash_near_dups(boilerplate_docs, max_bucket_size=10).count() == 0
    assert simhash_near_dups(boilerplate_docs).count() == 1770
    # identical embeddings: same bucket every table → capped out
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0] * 32) for i in range(40)], "vec_id long, embedding array<double>"
    )
    assert cosine_near_dup_pairs(emb, threshold=0.99).count() == 780
    assert cosine_near_dup_pairs(emb, threshold=0.99, max_bucket_size=10).count() == 0


# ---------------------------------------------------------------------------
# cleaning / validation
# ---------------------------------------------------------------------------
def test_drop_mostly_null_thresholds(spark):
    rows = [(i, i if i % 10 else None, None if i % 4 else i) for i in range(100)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    fr = null_fractions(df)
    assert fr["a"] == 0.0 and abs(fr["b"] - 0.1) < 1e-9 and abs(fr["c"] - 0.75) < 1e-9
    assert drop_mostly_null(df, 0.7).columns == ["a", "b"]
    assert drop_mostly_null(df, 0.05).columns == ["a"]


def test_nothing_to_profile_runs_no_job(spark):
    """An empty column list profiles no column (not every column), and
    a drop with every column protected is a no-op: zero Spark jobs."""
    df = spark.createDataFrame([(1, None), (2, None)], "a long, b long")
    with spark_jobs(spark) as jobs:
        assert null_fractions(df, []) == {}
        assert drop_mostly_null(df, 0.7, protect=["a", "b"]) is df
    assert jobs == []
    # the profile still runs, and drops, when a column is droppable
    with spark_jobs(spark) as jobs:
        assert drop_mostly_null(df, 0.7, protect=["a"]).columns == ["a"]
    assert len(jobs) >= 1


def test_expect_single_pass_and_raise(spark):
    df = spark.createDataFrame(
        [(1, 0.5, "x"), (2, 1.5, None)], "id long, frac double, s string"
    )
    r = expect(
        df,
        not_null=["s"],
        value_range={"frac": (0.0, 1.0)},
        allowed_values={"s": ["x", "y"]},
        non_empty=True,
    )
    assert not r.passed
    assert any("s: 1 null" in f for f in r.failures)
    assert any("frac" in f for f in r.failures)
    with pytest.raises(ValidationError):
        expect(df, not_null=["s"], raise_on_failure=True)


def test_expect_failure_hook_fires_before_raise(spark):
    df = spark.createDataFrame([(1, None)], "id long, s string")
    seen: list[list[str]] = []
    with pytest.raises(ValidationError):
        expect(df, not_null=["s"], raise_on_failure=True, on_failure=seen.append)
    assert len(seen) == 1 and any("s: 1 null" in f for f in seen[0])
    # passing data never fires the hook
    ok_df = spark.createDataFrame([(1, "x")], "id long, s string")
    expect(ok_df, not_null=["s"], on_failure=seen.append)
    assert len(seen) == 1


def test_corpus_split_and_packing(spark):
    from airline_data_pipeline_spark.operators.corpus import assign_split, pack_greedy

    d = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    split = assign_split(d, "doc_id", val_pct=10, test_pct=10)
    counts = {r["split"]: r["n"] for r in split.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # growth stability: adding docs never moves an existing doc's split
    bigger = assign_split(
        spark.createDataFrame([(i,) for i in range(2000)], "doc_id long"), "doc_id", 10, 10
    )
    a = {r["doc_id"]: r["split"] for r in split.collect()}
    b = {r["doc_id"]: r["split"] for r in bigger.collect()}
    assert all(b[k] == v for k, v in a.items())

    # packing: exclusive prefix sum → a straddling doc starts the next
    # bin; an oversized doc occupies its own bin
    rows = [(1, 60), (2, 50), (3, 300), (4, 10)]
    packed = {
        r["doc_id"]: r["bin_id"]
        for r in pack_greedy(
            spark.createDataFrame(rows, "doc_id long, toks long"),
            F.col("toks"), budget=100, order_by=["doc_id"],
        ).collect()
    }
    assert packed == {1: 0, 2: 0, 3: 1, 4: 4}


def test_run_with_retries_policy():
    from airline_data_pipeline_spark.pipeline.runner import run_with_retries

    calls, alerts = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError(f"boom {len(calls)}")
        return "ok"

    assert run_with_retries(flaky, retries=2, on_failure=lambda a, e: alerts.append(a)) == "ok"
    assert len(calls) == 3 and alerts == [0, 1]
    # exhausted retries re-raise the last failure after alerting each attempt
    alerts.clear()
    with pytest.raises(RuntimeError, match="always"):
        run_with_retries(
            lambda: (_ for _ in ()).throw(RuntimeError("always")),
            retries=1,
            on_failure=lambda a, e: alerts.append(a),
        )
    assert alerts == [0, 1]


def test_land_files_failure_hook(tmp_path):
    from airline_data_pipeline_spark.io.landing import MockRemoteClient, land_files

    client = MockRemoteClient({"bad.csv": b"", "good.json": b"{\"a\": 1}"})
    alerts: list[dict] = []
    result = land_files(client, str(tmp_path), on_failure=alerts.append)
    assert len(result.landed) == 1 and len(result.rejected) == 1
    assert alerts == [result.rejected]
    # all-valid landing: hook not invoked
    ok = land_files(
        MockRemoteClient({"good.json": b"[1]"}), str(tmp_path), on_failure=alerts.append
    )
    assert not ok.rejected and len(alerts) == 1


def test_require_types(spark):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    assert require_types(df, {"id": "bigint", "s": "string"}).passed
    assert not require_types(df, {"id": "int"}).passed
    assert not require_types(df, {"missing": "string"}).passed


# ---------------------------------------------------------------------------
# HHMM time math (SURVEY §7.3.1)
# ---------------------------------------------------------------------------
def test_hhmm_display_and_minutes(spark):
    df = spark.createDataFrame(
        [(1456.0,), (5.0,), (None,), (2359.0,), (0.0,)], "t double"
    )
    out = df.select(
        hhmm_to_display(F.col("t")).alias("disp"),
        hhmm_to_minutes(F.col("t")).alias("mins"),
    ).collect()
    assert [r["disp"] for r in out] == ["14:56", "00:05", None, "23:59", "00:00"]
    assert [r["mins"] for r in out] == [896, 5, None, 1439, 0]


def test_delay_naive_vs_corrected(spark):
    df = spark.createDataFrame(
        [
            (1502.0, 1458.0),  # 4 true minutes, naive says 44
            (10.0, 2350.0),  # +20 across midnight, naive says -2340
            (905.0, 900.0),  # 5 minutes, same hour — both agree
        ],
        "actual double, sched double",
    )
    out = df.select(
        hhmm_delay_naive(F.col("actual"), F.col("sched")).alias("naive"),
        hhmm_delay_minutes(F.col("actual"), F.col("sched")).alias("corrected"),
    ).collect()
    assert [r["naive"] for r in out] == [44.0, -2340.0, 5.0]
    assert [r["corrected"] for r in out] == [4, 20, 5]


# ---------------------------------------------------------------------------
# top-k determinism: the driver-side ranking keeps Spark's order
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("ascending", [False, True])
def test_top_k_rows_matches_spark_top_k(spark, ascending):
    """Ties on the primary key, and nulls in it and in the tiebreakers:
    Spark sorts ascending nulls first and descending nulls last."""
    df = spark.createDataFrame(
        [
            (3, "b", "x"), (3, "a", "y"), (3, "a", None), (None, "c", "x"),
            (1, None, "z"), (1, "a", "x"), (None, None, None), (2, "b", "b"),
        ],
        "n int, k1 string, k2 string",
    )
    want = top_k(df, "n", 6, ascending=ascending, tiebreakers=["k1", "k2"]).collect()
    got = top_k_rows(df.collect(), "n", 6, ascending=ascending, tiebreakers=["k1", "k2"])
    assert got == want


# ---------------------------------------------------------------------------
# UDTF edge cases (U3): the LATERAL-composable table functions
# ---------------------------------------------------------------------------
def test_token_ngrams_udtf_edges(spark):
    from airline_data_pipeline_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "one"), (3, "  x   y  "), (4, None), (5, "")],
        "id long, text string",
    )
    df.createOrReplaceTempView("ngram_edge_docs")
    got = {
        (r["id"], r["pos"], r["ngram"])
        for r in spark.sql(
            "SELECT d.id, g.pos, g.ngram FROM ngram_edge_docs d, "
            "LATERAL token_ngrams(d.text, 2) g"
        ).collect()
    }
    # doc 2 (< n tokens), doc 4 (null), doc 5 (empty) yield no rows;
    # runs of whitespace collapse to single token boundaries
    assert got == {
        (1, 0, "a b"), (1, 1, "b c"), (1, 2, "c d"),
        (3, 0, "x y"),
    }
    # n=1 degenerates to the token stream
    uni = spark.sql(
        "SELECT g.ngram FROM ngram_edge_docs d, LATERAL token_ngrams(d.text, 1) g "
        "WHERE d.id = 2"
    ).collect()
    assert [r["ngram"] for r in uni] == ["one"]


def test_observed_validation_rides_the_main_action(spark, tmp_path):
    """Observation-based validation: counters accumulate during the
    caller's own action (here a parquet write) — no dedicated
    validation job — and match an independent recount."""
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators.validation import observed

    orders = table(spark, "/root/testdata/sf0.001", "orders")
    df, obs = observed(
        orders,
        "orders_contract",
        not_null=["o_custkey", "o_orderdate"],
        value_range={"o_totalprice": (0.0, 400000.0)},
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the ONLY job
    m = obs.get
    assert m["n_rows"] == orders.count()
    assert m["null_o_custkey"] == 0 and m["null_o_orderdate"] == 0
    expected_oob = orders.filter(
        (F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 400000.0)
    ).count()
    assert m["oob_o_totalprice"] == expected_oob


def test_repetition_ratio_degeneracy_signal(spark):
    """repetition_ratio: degenerate repeated text scores high, all-unique
    trigram text scores 0, shorter-than-k text degrades to 0."""
    from airline_data_pipeline_spark.functions.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "one two three four five six seven eight"),
            (3, "hi there"),
            (4, ""),
        ],
        "id long, text string",
    )
    rows = {
        r["id"]: r["rep"]
        for r in df.select(
            "id", repetition_ratio(F.col("text")).alias("rep")
        ).collect()
    }
    assert rows[1] > 0.8  # 6 identical trigrams -> 5/6 repeated
    assert rows[2] == 0.0
    assert rows[3] == 0.0 and rows[4] == 0.0


def test_temperature_sample_flattens_and_is_deterministic(spark):
    """temperature_sample: alpha=1 keeps natural source proportions,
    alpha<1 up-weights small sources relative to large ones, alpha=0
    targets a uniform per-source budget, the draw is reproducible, and
    no source exceeds rate 1 (a small source is never oversampled)."""
    from airline_data_pipeline_spark.operators.corpus import temperature_sample

    rows = [(i, "big" if i < 9000 else "small") for i in range(10_000)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)

    def kept(alpha, budget_frac=0.5):
        out = temperature_sample(
            df, source_col="source", key_col="doc_id",
            alpha=alpha, budget_frac=budget_frac,
        )
        return {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    nat = kept(1.0)
    flat = kept(0.0)
    mid = kept(0.5)
    # alpha=1: keep rate is uniform (=budget_frac) across sources
    assert abs(nat["big"] / 9000 - nat["small"] / 1000) < 0.05
    # alpha=0: per-source TARGETS are equal (2500 each); the small
    # source saturates at rate 1 (all 1000 kept — never oversampled),
    # the big source lands near its 2500 target
    assert flat["small"] == 1000
    assert abs(flat["big"] - 2500) < 150
    # alpha=0.5 sits between: small source's keep RATE exceeds big's
    assert mid["small"] / 1000 > mid["big"] / 9000
    # deterministic: same inputs, same sample
    assert kept(0.5) == mid
    # NULL source is a legitimate group: it gets its own rate (null-
    # safe rates join) instead of being dropped while still deflating
    # the other sources' budget
    from airline_data_pipeline_spark.operators.corpus import temperature_sample

    rows_n = [(i, None if i % 2 else "web") for i in range(2000)]
    dfn = spark.createDataFrame(rows_n, "doc_id long, source string")
    out = temperature_sample(
        dfn, source_col="source", key_col="doc_id", alpha=1.0, budget_frac=0.5
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # alpha=1: uniform keep rate 0.5 for BOTH groups, including NULL
    assert None in by_src and abs(by_src[None] / 1000 - 0.5) < 0.1
    assert abs(by_src["web"] / 1000 - 0.5) < 0.1


def test_temperature_sample_matches_exact_python_model(spark):
    """The kept SET (not just counts) equals an independent Python
    recomputation of the rate → snap-to-9-decimals → floor(rate·denom)
    → md5-bucket pipeline. This pins the fixed-decimal quantization
    contract: the keep threshold is a pure function of the source
    counts, so pow()/summation-order ulp drift between engines (or
    partitionings) cannot flip a bucket sitting on the floor boundary —
    any engine that reproduces this arithmetic reproduces the sample
    row-for-row."""
    import hashlib
    import math

    from airline_data_pipeline_spark.operators.corpus import temperature_sample

    sizes = {"web": 3000, "books": 700, "wiki": 300}
    rows = []
    i = 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(8)
    alpha, budget, denom = 0.5, 0.5, 1_000_000
    got = {
        (r["doc_id"], r["source"])
        for r in temperature_sample(
            df, source_col="source", key_col="doc_id", alpha=alpha,
            budget_frac=budget,
        ).collect()
    }
    sw = sum(n**alpha for n in sizes.values())
    total = sum(sizes.values())
    thr = {
        s: math.floor(
            math.floor(
                min(1.0, (n**alpha / sw) * (budget * total) / n) * 1e9 + 0.5
            )
            / 1e9
            * denom
        )
        for s, n in sizes.items()
    }

    def bucket(k):
        h = int(hashlib.md5(f"{k}:tsample".encode()).hexdigest()[:15], 16)
        return h % denom

    want = {(k, s) for (k, s) in rows if bucket(k) < thr[s]}
    assert got == want


def test_score_hashed_linear_with_explicit_model(spark):
    """score_hashed_linear with a CALLER-SUPPLIED model: every token of
    a doc maps to a bucket, the logit is the exact milli-sum of the
    buckets' weights, zero-token docs produce no row, and thresholding
    logit_milli >= 0 classifies."""
    from airline_data_pipeline_spark.functions.text import portable_hash60
    from airline_data_pipeline_spark.operators.corpus import score_hashed_linear

    docs = spark.createDataFrame(
        [(1, "good good", "a"), (2, "bad", "a"), (3, "   ", "b")],
        "doc_id long, text string, source string",
    )
    n_buckets = 1 << 16
    # weights: +250 milli for 'good''s bucket, -700 for 'bad''s bucket
    tok_bucket = {
        r["tk"]: r["b"]
        for r in spark.createDataFrame([("good",), ("bad",)], "tk string")
        .select(
            "tk",
            F.pmod(
                portable_hash60(F.concat(F.col("tk"), F.lit(":qbucket"))),
                F.lit(n_buckets),
            ).alias("b"),
        )
        .collect()
    }
    model = spark.createDataFrame(
        [(tok_bucket["good"], 250), (tok_bucket["bad"], -700)],
        "bucket long, w_milli long",
    )
    got = {
        r["doc_id"]: (r["logit_milli"], r["n_tokens"], r["logit"])
        for r in score_hashed_linear(
            docs, carry_cols=["source"], model=model
        ).collect()
    }
    assert got[1] == (500, 2, 0.25)  # 2 x +250 over 2 tokens
    assert got[2] == (-700, 1, -0.7)
    assert 3 not in got  # blank doc: no tokens, no score row
    # SPARSE model contract: out-of-vocabulary tokens weigh 0 but still
    # count toward n_tokens, and an all-OOV doc scores logit 0 rather
    # than silently vanishing (left join + coalesce, not inner join)
    docs2 = spark.createDataFrame(
        [(10, "good oov1 oov2 oov3", "a"), (11, "oov4 oov5", "a")],
        "doc_id long, text string, source string",
    )
    got2 = {
        r["doc_id"]: (r["logit_milli"], r["n_tokens"], r["logit"])
        for r in score_hashed_linear(
            docs2, carry_cols=["source"], model=model
        ).collect()
    }
    assert got2[10] == (250, 4, 0.0625)  # one hit diluted by 3 OOV
    assert got2[11] == (0, 2, 0.0)  # all-OOV doc present with logit 0


def test_weighted_sample_deterministic_and_weight_monotone(spark):
    """weighted_sample: weight 0 keeps nothing, 1 keeps everything, the
    draw is reproducible, and keep-rates track the weights."""
    from airline_data_pipeline_spark.operators.corpus import weighted_sample

    df = spark.range(4000).withColumn(
        "w", F.when(F.col("id") % 2 == 0, 0.8).otherwise(0.2)
    )
    assert weighted_sample(df, "id", F.lit(0.0)).count() == 0
    assert weighted_sample(df, "id", F.lit(1.0)).count() == 4000
    a = weighted_sample(df, "id", F.col("w")).collect()
    b = weighted_sample(df, "id", F.col("w")).collect()
    assert {r["id"] for r in a} == {r["id"] for r in b}
    kept = {r["id"] for r in a}
    hi = sum(1 for i in kept if i % 2 == 0) / 2000
    lo = sum(1 for i in kept if i % 2 == 1) / 2000
    assert abs(hi - 0.8) < 0.05 and abs(lo - 0.2) < 0.05


def test_chunk_documents_window_contract(spark):
    """Chunking contract: full windows at stride, drop-tail, whole-doc
    chunk for short docs, exact window text."""
    from airline_data_pipeline_spark.operators.corpus import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "tiny doc"), (3, "a b c d")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["chunk_tokens"])
        )
    # doc 1: 10 tokens, windows start at 1,4,7 (start <= 10-4+1=7)
    assert [c[1] for c in sorted(by_doc[1])] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert all(c[2] == 4 for c in by_doc[1])
    # doc 2: shorter than one window -> single whole-doc chunk
    assert by_doc[2] == [(0, "tiny doc", 2)]
    # doc 3: exactly one window
    assert by_doc[3] == [(0, "a b c d", 4)]


def test_chunk_documents_null_and_blank_text(spark):
    """NULL/blank docs must NOT emit a phantom full-size chunk (the
    pre-fix behavior: size(null)=null made last_start=1 and
    chunk_tokens evaluate to the literal 64 with null text, inflating
    token totals). They yield one 0-token whole-doc chunk."""
    from airline_data_pipeline_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text here")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["chunk_tokens"])
        )
    for doc in (1, 2, 3):
        assert by_doc[doc] == [(0, "", 0)], by_doc[doc]
    assert by_doc[4] == [(0, "real text here", 3)]
    total = sum(r["chunk_tokens"] for r in out)
    assert total == 3  # no phantom 64-token contributions


def test_gopher_quality_flags_rule_by_rule(spark):
    """gopher_quality_flags: each rule trips on a doc engineered to fail
    exactly that rule (plus the degenerate empty doc), and a long
    prose-like doc passes all five."""
    from airline_data_pipeline_spark.functions.text import gopher_quality_flags

    passing = "the quick brown fox jumps over that lazy dog and all of " * 6
    short = "the cat sat with that dog and all of them"  # < 50 words
    longwords = (
        "extraordinarily " * 55 + "the of and that have with be to"
    )  # mean word length > 10 (needs >= 50 words to isolate the rule)
    symbols = ("the of and that have with be to " + "# " * 20) * 4  # #/word > 0.1
    digits = ("the of and that have with be to " + "12 34 56 78 90 " * 4) * 4
    nostop = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    df = spark.createDataFrame(
        [
            (1, passing),
            (2, short),
            (3, longwords),
            (4, symbols),
            (5, digits),
            (6, nostop),
            (7, ""),
            (8, None),
        ],
        "id long, text string",
    )
    rows = {
        r["id"]: r["g"].asDict()
        for r in df.select(
            "id", gopher_quality_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert not any(rows[1].values()), rows[1]
    assert rows[2]["fail_word_count"] and not rows[2]["fail_stopwords"]
    assert rows[3]["fail_mean_word_len"] and not rows[3]["fail_word_count"]
    assert rows[4]["fail_symbol_ratio"], rows[4]
    # digit runs count as words without an alphabetic char
    assert rows[5]["fail_alpha_words"], rows[5]
    assert rows[6]["fail_stopwords"] and not rows[6]["fail_alpha_words"]
    # empty doc: too short + degenerate mean/alpha, but NOT symbol-heavy
    assert rows[7]["fail_word_count"] and rows[7]["fail_mean_word_len"]
    assert rows[7]["fail_alpha_words"] and not rows[7]["fail_symbol_ratio"]
    # NULL text is the SAME contract as the empty doc — every flag
    # non-NULL and identical (without the coalesce, size(tokens(NULL))
    # is -1 and the flags silently go TRUE/NULL-ish on a different path)
    assert rows[8] == rows[7], rows[8]
    assert all(v is not None for v in rows[8].values())


def test_canonical_selection_keeps_longest_per_transitive_cluster(spark):
    """Survivor selection over connected components: a transitive A-B-C
    chain collapses to ONE cluster whose survivor is the longest member
    (doc_id tiebreak), and singletons are excluded from the report."""
    from pyspark.sql import Window

    from airline_data_pipeline_spark.operators.dedup import connected_components

    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 9)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )  # 1-2-3 chain; 9 is a singleton
    chars = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (9, 50)], "doc_id long, n_chars long"
    )
    clusters = connected_components(ids, pairs)
    member = clusters.join(chars, "doc_id")
    wc = Window.partitionBy("cluster_id")
    ranked = member.select(
        "cluster_id",
        "doc_id",
        F.row_number()
        .over(wc.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wc).alias("nm"),
    )
    kept = ranked.filter((F.col("rn") == 1) & (F.col("nm") >= 2)).collect()
    assert len(kept) == 1
    # ties on n_chars=300 break to the smaller doc_id
    assert kept[0]["cluster_id"] == 1 and kept[0]["doc_id"] == 2
    assert kept[0]["nm"] == 3


def test_bpe_pairs_aggregate_then_expand_equals_per_occurrence(spark, tmp_path):
    """The bpe_pair_counts scale trick (count the vocab FIRST, then
    expand pairs per distinct word weighted by its count) must be
    value-identical to the naive per-occurrence expansion — including
    on repeated words, 1-char words (contribute nothing), and mixed
    casing (folded before counting)."""
    from airline_data_pipeline_spark.functions import text as TX
    from airline_data_pipeline_spark.queries.suite import registry

    rows = [
        (0, "abab abab xy"),
        (1, "ABAB q xy xy"),
        (2, None),
        (3, "  "),
        (4, "a b c"),  # all 1-char: zero pairs
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    naive = (
        df.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    expected = {r["pair"]: r["cnt"] for r in naive.collect()}
    # run the registered query's plan against a scratch documents table
    d = str(tmp_path)
    df.select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("s0").alias("source"),
        F.length("text").alias("n_chars"),
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["pair"]: r["cnt"]
        for r in registry()["bpe_pair_counts"].fn(spark, d).collect()
    }
    assert got == expected
    # 'abab' occurs 3x (2 in doc0, 1 case-folded in doc1), each
    # contributing pairs ab, ba, ab; 'xy' occurs 3x
    assert got["ab"] == 6 and got["ba"] == 3 and got["xy"] == 3
    assert "a " not in got and len([p for p in got if len(p) != 2]) == 0


def test_bpe_merge_replace_equals_greedy_fold(spark):
    """bpe_merge_steps applies a merge as literal string replace over
    space-BOUNDED double-space-joined symbols. That must equal the
    sequential greedy left-to-right fold — including on the two
    adversarial classes the encoding exists for: boundary-spanning
    false matches (suffix-a symbol followed by prefix-b symbol) and
    overlapping runs (aaaa with pair (a,a))."""
    import random

    from pyspark.sql import functions as F

    def greedy_fold(symbols, a, b):
        out = []
        i = 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        return out

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["xa", "by"], "a", "b"),
        (["a", "b", "a", "b"], "a", "b"),
        (["a", "ab"], "a", "a"),
        (["ab", "a"], "ab", "a"),
        (["b", "a", "b"], "a", "b"),
        (["ba", "a", "b", "ab"], "a", "b"),
    ]
    rng = random.Random(0)
    alphabet = ["a", "b", "ab", "ba", "aa"]
    for _ in range(200):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(1, 8))]
        pair = (rng.choice(alphabet), rng.choice(alphabet))
        cases.append((syms, *pair))
    rows = [(" " + "  ".join(s) + " ", a, b) for s, a, b in cases]
    df = spark.createDataFrame(rows, ["s", "a", "b"])
    got = df.select(
        F.split(
            F.trim(
                F.replace(
                    F.col("s"),
                    F.concat(F.lit(" "), "a", F.lit("  "), "b", F.lit(" ")),
                    F.concat(F.lit(" "), "a", "b", F.lit(" ")),
                )
            ),
            "  ",
        ).alias("m")
    ).collect()
    for (syms, a, b), r in zip(cases, got):
        assert r["m"] == greedy_fold(syms, a, b), (syms, a, b, r["m"])


def test_gopher_repetition_metrics_hand_computed(spark):
    """Each repetition metric against hand-computed values on docs
    engineered per rule, plus the NULL-text all-zeros contract and a
    no-Python plan check (the pipeline must stay codegen aggregates)."""
    from airline_data_pipeline_spark.operators.repetition import (
        gopher_repetition_metrics,
    )

    df = spark.createDataFrame(
        [
            # lines ["a b","a b"]: dup_line 1/2; chars (2-1)*3 / 2*3
            (1, "a b\na b"),
            # 6 tokens "z": top 2-gram c=5,len=3 -> 15/11 capped 1.0;
            # dup 5-gram "z z z z z" c=2,len=9 -> 18/11 capped 1.0
            (2, "z z z z z z"),
            # two identical paragraphs + one unique: dup_para 1/3,
            # para chars (2-1)*5 / (3*5)
            (3, "pa pa\n\npa pa\n\nqq qq"),
            (4, None),
            # no repetition at all: everything 0
            (5, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    out = gopher_repetition_metrics(df)
    assert "BatchEvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert rows[1]["dup_line_frac"] == 0.5
    assert rows[1]["dup_line_char_frac"] == 0.5
    assert rows[1]["dup_para_frac"] == 0.0  # one paragraph, repeated never
    assert rows[2]["top_2gram_char_frac"] == 1.0
    assert rows[2]["dup_5gram_char_frac"] == 1.0
    assert abs(rows[3]["dup_para_frac"] - 1 / 3) < 1e-12
    assert abs(rows[3]["dup_para_char_frac"] - 5 / 15) < 1e-12
    # "pa pa" appears twice as a LINE too (one line per paragraph)
    assert abs(rows[3]["dup_line_frac"] - 1 / 3) < 1e-12
    assert all(v == 0.0 for k, v in rows[4].items() if k != "doc_id")
    assert all(v == 0.0 for k, v in rows[5].items() if k != "doc_id")


def test_epoch_replication_plan_model_and_cap(spark):
    """epoch_replication_plan: alpha=1 with an integer budget gives
    every doc exactly budget_mult epochs; a tiny source against a huge
    one caps at max_epochs; a sub-1 budget yields a pure Bernoulli thin
    (docs with zero replicas vanish); and the full (doc, epoch) set
    matches an independent Python recomputation of the
    rate -> 9-decimal snap -> floor/frac -> md5-draw pipeline."""
    import hashlib
    import math

    from airline_data_pipeline_spark.operators.corpus import (
        epoch_replication_plan,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string").repartition(4)

    # alpha=1, budget 2.0: rate is exactly 2.0 for every source
    out = epoch_replication_plan(df, alpha=1.0, budget_mult=2.0).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == [1, 2] for v in per_doc.values())
    assert len(per_doc) == 1000

    # tiny source vs huge: the small side hits the max_epochs cap
    skew = spark.createDataFrame(
        [(i, "huge" if i < 990 else "tiny") for i in range(1000)],
        "doc_id long, source string",
    )
    capped = epoch_replication_plan(skew, alpha=0.5, budget_mult=2.0, max_epochs=4)
    mx = {
        r["source"]: r["m"]
        for r in capped.groupBy("source").agg(F.max("epoch").alias("m")).collect()
    }
    assert mx["tiny"] == 4

    # sub-1 budget: pure deterministic thinning, exact Python model
    got = {
        (r["doc_id"], r["epoch"])
        for r in epoch_replication_plan(df, alpha=1.0, budget_mult=0.5).collect()
    }
    rate = math.floor(0.5 * 1e9 + 0.5) / 1e9
    thr = math.floor((rate - math.floor(rate)) * 1_000_000)

    def bucket(k):
        return int(hashlib.md5(f"{k}:epoch".encode()).hexdigest()[:15], 16) % 1_000_000

    want = {(i, 1) for i, _ in rows if bucket(i) < thr}
    assert got == want and 0 < len(want) < 1000


def test_null_text_scores_like_empty_doc(spark):
    """token_count and quality_score on NULL text behave exactly like
    the empty doc (0 tokens, score 0.0) — the legacy size(NULL) = -1
    path must never subtract from token budgets or push the quality
    score below 0 (same contract as gopher_quality_flags)."""
    from airline_data_pipeline_spark.functions.text import (
        quality_score,
        token_count,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox")],
        "id long, text string",
    )
    rows = {
        r["id"]: (r["n"], r["q"])
        for r in df.select(
            "id",
            token_count(F.col("text")).alias("n"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert rows[1] == rows[2] == (0, 0.0)
    assert rows[3][0] == 4 and 0.0 < rows[3][1] <= 1.0


def test_epoch_replication_null_source_gets_its_own_rate(spark):
    """A NULL source is a legitimate group (same eqNullSafe contract as
    temperature_sample): its docs epoch at their own group's rate
    instead of being dropped by a NULL-never-equals-NULL join."""
    from airline_data_pipeline_spark.operators.corpus import (
        epoch_replication_plan,
    )

    rows = [(i, None if i % 2 else "web") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_replication_plan(df, alpha=1.0, budget_mult=2.0)
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # alpha=1, budget 2.0: exactly 2 epochs per doc for BOTH groups
    assert by_src == {None: 200, "web": 200}


def test_localized_rejects_unbounded_input(spark):
    """VERDICT r10 #6: `_localized` collects by contract (driver-sized
    results only); a future query handing it a data-sized frame must
    fail loudly at the row cap, not OOM the driver. The guard collects
    through limit(cap+1), so the failure cost is bounded too."""
    import pytest
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.queries import suite

    big = spark.range(0, 300_000).select(F.col("id"))
    with pytest.raises(ValueError, match="driver-sized"):
        suite._localized(spark, big)
    # bounded frames still round-trip exactly (schema + rows)
    small = spark.range(0, 5).select(F.col("id"))
    out = suite._localized(spark, small)
    assert out.schema == small.schema
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]


def test_minhash_index_append_equals_union_rebuild(docs, tmp_path):
    """VERDICT r10 #4 (index lifecycle): appending a batch to a stored
    MinHash index must behave exactly like rebuilding the index from
    scratch on the union corpus — banding is per-row deterministic and
    the append bands with the index's OWN meta params, so the gate
    results are identical. Layout: the stored tables are append-only
    (row counts grow by exactly the batch's contribution; meta is
    unchanged)."""
    from airline_data_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
        dedup_minhash_against_index,
        write_minhash_index,
    )

    spark = docs.sparkSession
    ref = docs.filter("source = 'src0'")
    batch = docs.filter("source = 'src1'")
    inc = docs.filter("source NOT IN ('src0', 'src1')")

    grown = str(tmp_path / "mh_grown")
    write_minhash_index(ref, grown, num_hashes=32, bands=16)
    b0 = spark.read.parquet(grown + "/buckets").count()
    s0 = spark.read.parquet(grown + "/shingles").count()
    append_to_minhash_index(batch, grown)

    rebuilt = str(tmp_path / "mh_rebuilt")
    write_minhash_index(ref.unionByName(batch), rebuilt, num_hashes=32, bands=16)

    via_grown = {
        r["doc_id"]
        for r in dedup_minhash_against_index(inc, grown, threshold=0.7).collect()
    }
    via_rebuilt = {
        r["doc_id"]
        for r in dedup_minhash_against_index(inc, rebuilt, threshold=0.7).collect()
    }
    assert via_grown == via_rebuilt
    # append-only layout: counts grew by exactly the rebuild's delta
    assert (
        spark.read.parquet(grown + "/buckets").count()
        == spark.read.parquet(rebuilt + "/buckets").count()
        > b0
    )
    assert (
        spark.read.parquet(grown + "/shingles").count()
        == spark.read.parquet(rebuilt + "/shingles").count()
        > s0
    )
    # meta is a param table — append must not touch it
    m = spark.read.parquet(grown + "/meta").first()
    assert (m["num_hashes"], m["bands"], m["shingle_k"]) == (32, 16, 3)


def test_minhash_index_batchwise_appends_equal_single_append(docs, tmp_path):
    """Appending two batches sequentially must equal appending their
    union once: banding is per-row deterministic with the index's own
    meta params, so batch boundaries cannot change what a later gate
    sees."""
    from airline_data_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
        dedup_minhash_against_index,
        write_minhash_index,
    )

    spark = docs.sparkSession
    ref = docs.filter("source = 'src0'")
    b1 = docs.filter("source = 'src1'")
    b2 = docs.filter("source = 'src2'")
    inc = docs.filter("source NOT IN ('src0', 'src1', 'src2')")

    two = str(tmp_path / "mh_two")
    write_minhash_index(ref, two, num_hashes=32, bands=16)
    append_to_minhash_index(b1, two)
    append_to_minhash_index(b2, two)

    one = str(tmp_path / "mh_one")
    write_minhash_index(ref, one, num_hashes=32, bands=16)
    append_to_minhash_index(b1.unionByName(b2), one)

    kept_two = {
        r["doc_id"]
        for r in dedup_minhash_against_index(inc, two, threshold=0.7).collect()
    }
    kept_one = {
        r["doc_id"]
        for r in dedup_minhash_against_index(inc, one, threshold=0.7).collect()
    }
    assert kept_two == kept_one
    assert (
        spark.read.parquet(two + "/buckets").count()
        == spark.read.parquet(one + "/buckets").count()
    )


def test_minhash_append_rejects_schema_drifted_batch(docs, tmp_path):
    """Review r11: a batch whose id column drifted in type would land
    physically-mixed parquet files that fail at the next gate's scan;
    the append compares footer schemas and fails loudly instead."""
    import pytest
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
        write_minhash_index,
    )

    spark = docs.sparkSession
    ref = docs.filter("source = 'src0'")
    root = str(tmp_path / "mh_schema_guard")
    write_minhash_index(ref, root, num_hashes=32, bands=16)
    drifted = docs.filter("source = 'src1'").withColumn(
        "doc_id", F.col("doc_id").cast("int")
    )
    b_before = spark.read.parquet(root + "/buckets").count()
    with pytest.raises(ValueError, match="schema-drifted"):
        append_to_minhash_index(drifted, root)
    assert spark.read.parquet(root + "/buckets").count() == b_before


def test_minhash_append_rejects_name_drifted_id_col(docs, tmp_path):
    """ADVICE r11: an append called with a different id_col than the
    index was built with used to pass the (both-sides-only) schema
    guard and land a differently-NAMED id column that later gate scans
    silently read as null. Now (a) r12+ artifacts record id_col in
    meta and the append inherits it — a batch missing that column
    fails loudly; (b) pre-r12 artifacts (no recorded id_col) are
    covered by the exact column-name-set guard."""
    import pytest

    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.io.writers import replace_parquet_dir
    from airline_data_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
        write_minhash_index,
    )

    spark = docs.sparkSession
    root = str(tmp_path / "mh_name_guard")
    write_minhash_index(docs.filter("source = 'src0'"), root)
    renamed = docs.filter("source = 'src1'").withColumnRenamed(
        "doc_id", "other_id"
    )
    # (a) r12 artifact: meta records id_col=doc_id; the caller's
    # id_col="other_id" is overridden by inheritance and the batch
    # (which has no doc_id column) is rejected before any write
    b_before = spark.read.parquet(root + "/buckets").count()
    with pytest.raises(ValueError, match="records id_col"):
        append_to_minhash_index(renamed, root, id_col="other_id")
    # (b) simulate a pre-r12 artifact: re-stamp meta WITHOUT the
    # id_col/text_col columns; the name-set guard must trip instead
    old_meta = spark.read.parquet(root + "/meta").first()
    tmp = root + "/meta__old"
    local_df(
        spark,
        [(old_meta["num_hashes"], old_meta["bands"], old_meta["shingle_k"])],
        "num_hashes int, bands int, shingle_k int",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    replace_parquet_dir(spark, tmp, root + "/meta")
    with pytest.raises(ValueError, match="batch columns"):
        append_to_minhash_index(renamed, root, id_col="other_id")
    assert spark.read.parquet(root + "/buckets").count() == b_before


def test_minhash_retraction_readmits_twin_and_equals_rebuild(docs, tmp_path):
    """VERDICT r11 #3: retraction's observable contract. Doc 0 (src0,
    in the index) has near-dup twins 100/101/102 (src1) that the gate
    drops; after retract_from_minhash_index([0]) the twins must
    RE-ADMIT, and gating against the retracted index must equal gating
    against an index rebuilt on corpus-minus-retracted. Covers both
    the literal-list and DataFrame retraction-set forms, empty-set
    no-op, and swap hygiene (no debris dirs, meta params untouched)."""
    import os

    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
        retract_from_minhash_index,
        write_minhash_index,
    )

    spark = docs.sparkSession
    ref = docs.filter("source = 'src0'")
    batch = docs.filter("source = 'src1'")
    root = str(tmp_path / "mh_retract")
    write_minhash_index(ref, root, num_hashes=32, bands=16)

    def kept_ids(idx):
        return {
            r["doc_id"]
            for r in dedup_minhash_against_index(
                batch, idx, threshold=0.7
            ).collect()
        }

    before = kept_ids(root)
    assert not {100, 101, 102} & before  # twins gated out pre-retraction

    meta_before = spark.read.parquet(root + "/meta").first().asDict()
    retract_from_minhash_index(spark, root, [])  # no-op must not rewrite
    retract_from_minhash_index(spark, root, [0])
    after = kept_ids(root)
    assert {100, 101, 102} <= after  # the retracted doc's twins re-admit
    assert after == before | {100, 101, 102}  # and nothing else changed

    # rebuild-equality: retracted index == index built on ref-minus-0
    rebuilt = str(tmp_path / "mh_rebuilt")
    write_minhash_index(
        ref.filter("doc_id <> 0"), rebuilt, num_hashes=32, bands=16
    )
    assert kept_ids(rebuilt) == after
    # row-for-row, not just gate-equivalent (__sh arrays -> frozensets:
    # shingle SET content matters, element order within the array
    # doesn't survive distinct-aggregation order)
    def row_key(r):
        return tuple(
            frozenset(x) if isinstance(x, list) else x for x in r
        )

    for sub in ("buckets", "shingles"):
        got = {
            row_key(r) for r in spark.read.parquet(f"{root}/{sub}").collect()
        }
        want = {
            row_key(r)
            for r in spark.read.parquet(f"{rebuilt}/{sub}").collect()
        }
        assert got == want, sub

    # DataFrame retraction-set form: retract everything that remains
    all_ref_ids = ref.select("doc_id")
    retract_from_minhash_index(spark, root, all_ref_ids)
    assert spark.read.parquet(root + "/buckets").count() == 0
    assert kept_ids(root) == {r["doc_id"] for r in batch.collect()}

    # hygiene: params untouched, no swap debris
    assert spark.read.parquet(root + "/meta").first().asDict() == meta_before
    debris = [
        d for d in os.listdir(root)
        if "__retracting" in d or "__replaced" in d
    ]
    assert debris == [], debris


def test_minhash_index_compaction_is_gate_invisible(docs, tmp_path):
    """compact_minhash_index must rewrite both tables to the target
    file count with gate results bit-identical (rows copied verbatim,
    no re-shingling/re-banding) and no park/tmp dirs left behind."""
    import glob
    import os

    from airline_data_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
        compact_minhash_index,
        dedup_minhash_against_index,
        write_minhash_index,
    )

    spark = docs.sparkSession
    ref = docs.filter("source = 'src0'")
    inc = docs.filter("source NOT IN ('src0', 'src1', 'src2')")
    root = str(tmp_path / "mh_compact")
    write_minhash_index(ref, root, num_hashes=32, bands=16, num_files=8)
    append_to_minhash_index(docs.filter("source = 'src1'"), root)
    append_to_minhash_index(docs.filter("source = 'src2'"), root)

    def kept():
        return {
            r["doc_id"]
            for r in dedup_minhash_against_index(
                inc, root, threshold=0.7
            ).collect()
        }

    def files(sub):
        return len(glob.glob(os.path.join(root, sub, "*.parquet")))

    before = kept()
    b_rows = spark.read.parquet(root + "/buckets").count()
    assert files("buckets") > 8 and files("shingles") > 8  # appends piled up

    compact_minhash_index(spark, root, num_files=4)

    assert files("buckets") <= 4 and files("shingles") <= 4
    for leftover in (
        "buckets__compacting", "buckets__replaced",
        "shingles__compacting", "shingles__replaced",
    ):
        assert not os.path.exists(os.path.join(root, leftover))
    assert spark.read.parquet(root + "/buckets").count() == b_rows
    assert kept() == before
    m = spark.read.parquet(root + "/meta").first()
    assert (m["num_hashes"], m["bands"], m["shingle_k"]) == (32, 16, 3)


def test_minhash_reband_restores_recall_and_equals_rebuild(spark, tmp_path):
    """The reband verb's observable contract (the text-side mirror of
    refit_ivf_index's recall test): a j≈0.86 near-dup pair that
    32-hash/4-band LSH deterministically MISSES (8 rows/band,
    per-pair collision ≈ 4·j⁸ and this pair's hash draw loses) must be
    caught after reband_minhash_index to 32/16 — and gating against
    the re-banded index must equal gating against a fresh index built
    at the final params (rebuild-equality). Also pins the generation
    mechanics: meta records the new params + bumped banding_gen, the
    old buckets dir is swept, re-running reband is idempotent, and
    bad params fail loudly."""
    import os

    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
        reband_minhash_index,
        write_minhash_index,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    ref_text = base + " " + " ".join(f"wa3x{i}" for i in range(8))
    batch_text = (
        base + " " + " ".join(f"wa3x{i}" for i in range(6)) + " zb3q0 zb3q1"
    )
    ref = spark.createDataFrame([(1, ref_text)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(2, batch_text), (3, "totally unrelated words only here")],
        "doc_id long, text string",
    )

    root = str(tmp_path / "mh_reband")
    write_minhash_index(ref, root, num_hashes=32, bands=4)

    def kept_ids(idx):
        return {
            r["doc_id"]
            for r in dedup_minhash_against_index(
                batch, idx, threshold=0.7
            ).collect()
        }

    # low-band index misses the borderline near-dup: doc 2 admitted
    assert kept_ids(root) == {2, 3}

    reband_minhash_index(spark, root, num_hashes=32, bands=16)
    # guaranteed-recall banding catches it: doc 2 gated out
    assert kept_ids(root) == {3}

    md = spark.read.parquet(root + "/meta").first().asDict()
    assert md["num_hashes"] == 32 and md["bands"] == 16
    assert md["banding_gen"] == 1
    dirs = sorted(d for d in os.listdir(root) if d.startswith("buckets"))
    assert dirs == ["buckets_g1"], dirs

    # rebuild-equality at the final params
    fresh = str(tmp_path / "mh_fresh")
    write_minhash_index(ref, fresh, num_hashes=32, bands=16)
    assert kept_ids(root) == kept_ids(fresh)

    # idempotent re-run: gen bumps again, exactly one live dir, same gate
    reband_minhash_index(spark, root, num_hashes=32, bands=16)
    assert spark.read.parquet(root + "/meta").first()["banding_gen"] == 2
    dirs = sorted(d for d in os.listdir(root) if d.startswith("buckets"))
    assert dirs == ["buckets_g2"], dirs
    assert kept_ids(root) == {3}

    with pytest.raises(ValueError, match="divide"):
        reband_minhash_index(spark, root, num_hashes=32, bands=5)
    with pytest.raises(ValueError, match="num_hashes >= bands"):
        reband_minhash_index(spark, root, num_hashes=8, bands=16)


def test_minhash_reband_crash_window_is_consistent(spark, tmp_path):
    """The design claim behind the generation-named buckets dir: a
    crash AFTER the new buckets land but BEFORE the meta stamp must
    leave the index fully consistent on the OLD params (meta is the
    single switch point) — never the silent state where gates band a
    batch with one parameter set and join buckets built with another.
    Simulated by hand-writing the orphan gen dir; the lifecycle verbs
    (gate, append-path meta reads) must keep using the old buckets,
    and a re-run reband sweeps the orphan."""
    import os

    from airline_data_pipeline_spark.operators.dedup import (
        _banded_buckets,
        dedup_minhash_against_index,
        reband_minhash_index,
        shingle_sets,
        write_minhash_index,
    )

    ref = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "mh_crash")
    write_minhash_index(ref, root, num_hashes=32, bands=16)

    # simulate the crash: gen-1 buckets written, meta NOT stamped
    sh = spark.read.parquet(root + "/shingles")
    _banded_buckets(sh, "doc_id", 32, 8).write.mode("overwrite").parquet(
        root + "/buckets_g1"
    )

    # gate still runs on the OLD (meta-named) buckets and catches the dup
    kept = dedup_minhash_against_index(batch, root, threshold=0.7)
    assert kept.count() == 0
    assert spark.read.parquet(root + "/meta").first()["banding_gen"] == 0

    # re-running the reband completes the switch and sweeps the orphan
    reband_minhash_index(spark, root, num_hashes=32, bands=8)
    dirs = sorted(d for d in os.listdir(root) if d.startswith("buckets"))
    assert dirs == ["buckets_g1"], dirs
    assert spark.read.parquet(root + "/meta").first()["banding_gen"] == 1
    assert dedup_minhash_against_index(batch, root, threshold=0.7).count() == 0


def test_minhash_pre_gen_artifact_upgrades_through_reband(spark, tmp_path):
    """Back-compat: an artifact written before banding_gen existed
    (meta without the column, buckets at the unsuffixed dir) must gate
    unchanged and upgrade cleanly through its first reband."""
    import os

    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
        reband_minhash_index,
        write_minhash_index,
    )

    ref = spark.createDataFrame(
        [(1, "red orange yellow green blue indigo violet ultra umbra xx")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(2, "red orange yellow green blue indigo violet ultra umbra xx")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "mh_pregen")
    write_minhash_index(ref, root, num_hashes=32, bands=16)
    # rewrite meta WITHOUT banding_gen — the pre-r12 artifact shape
    local_df(
        spark,
        [(32, 16, 3, "doc_id", "text")],
        "num_hashes int, bands int, shingle_k int, "
        "id_col string, text_col string",
    ).coalesce(1).write.mode("overwrite").parquet(root + "/meta")

    assert dedup_minhash_against_index(batch, root, threshold=0.7).count() == 0

    reband_minhash_index(spark, root, num_hashes=32, bands=8)
    assert spark.read.parquet(root + "/meta").first()["banding_gen"] == 1
    dirs = sorted(d for d in os.listdir(root) if d.startswith("buckets"))
    assert dirs == ["buckets_g1"], dirs
    assert dedup_minhash_against_index(batch, root, threshold=0.7).count() == 0
