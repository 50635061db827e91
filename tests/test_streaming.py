"""Streaming tests (SURVEY.md §5 #5): stream-batch equivalence via
Trigger.AvailableNow replay over the events table, session windows,
stateful dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.io.readers import table
from airline_data_pipeline_spark.streaming.events import (
    dedup_events_stream,
    read_event_stream,
    run_available_now,
    session_counts,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_source(spark, tmp_path_factory):
    """Re-land the events table as micro-batch-able parquet files.

    Files are event-time ordered (one per week, increasing mtime): a
    replay where batch N+1 is entirely later than batch N − watermark,
    like a real landing feed. Random file order would make whole
    batches 'late' and the watermark would (correctly) drop them —
    that behavior is exercised separately in the dedup test.
    """
    import glob
    import os
    import shutil
    import time

    base = tmp_path_factory.mktemp("stream")
    src = str(base / "events")
    os.makedirs(src)
    ev = table(spark, SF, "events")
    for i in range(4):
        lo, hi = i * 8, (i + 1) * 8  # day-of-month buckets
        chunk_dir = str(base / f"chunk{i}")
        (
            ev.filter((F.dayofmonth("ts") > lo) & (F.dayofmonth("ts") <= hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(chunk_dir)
        )
        part = glob.glob(os.path.join(chunk_dir, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return src


def test_stream_batch_equivalence_windows(spark, stream_source):
    """The SAME windowed aggregation, run (a) as a batch query and
    (b) through the streaming engine with AvailableNow, must agree on
    every window the watermark closed. Windows still open at end of
    stream (ending after max_ts − watermark) are append-mode state,
    not output — excluded on the batch side."""
    import datetime as dt

    batch_df = spark.read.parquet(stream_source)
    max_ts = batch_df.agg(F.max("ts")).first()[0]
    closed = max_ts - dt.timedelta(minutes=10)
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["total_value"], 6))
        for r in windowed_counts(batch_df).collect()
        if r["window_end"] <= closed
    }

    stream = read_event_stream(spark, stream_source, max_files_per_trigger=1)
    run_available_now(windowed_counts(stream), "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected


def test_sliding_windows_run(spark, stream_source):
    batch_df = spark.read.parquet(stream_source)
    out = windowed_counts(batch_df, window="2 hours", slide="1 hour").collect()
    # each event lands in exactly 2 sliding windows
    assert sum(r["n"] for r in out) == 2 * batch_df.count()


def test_session_windows_match_batch_sessionize(spark, stream_source):
    """session_window(gap=30m) session count per user == the batch
    lag+cumsum sessionization (same gap semantics)."""
    batch_df = spark.read.parquet(stream_source)
    sw = (
        session_counts(batch_df, gap="30 minutes")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    from airline_data_pipeline_spark.queries.suite import registry

    lag_based = registry()["sessionize"].fn(spark, SF)
    a = {(r["user_id"], r["n_sessions"]) for r in sw.collect()}
    b = {(r["user_id"], r["n_sessions"]) for r in lag_based.collect()}
    assert a == b


def test_streaming_session_counts_run(spark, stream_source):
    stream = read_event_stream(spark, stream_source)
    run_available_now(session_counts(stream), "sess_counts")
    rows = spark.sql("SELECT count(*) AS n FROM sess_counts").first()
    assert rows["n"] > 0


def test_stateful_running_totals(spark, tmp_path, stream_source):
    """applyInPandasWithState accumulates across micro-batches: the
    final per-user totals equal the batch groupBy."""
    from airline_data_pipeline_spark.streaming.events import running_user_totals

    stream = read_event_stream(spark, stream_source, max_files_per_trigger=1)
    run_available_now(
        running_user_totals(stream),
        "user_totals",
        output_mode="update",
        checkpoint_dir=str(tmp_path / "state_ckpt"),
    )
    # update mode emits one row per user per batch that touched it —
    # the LAST emission per user is the running total
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM user_totals
            ) WHERE rn = 1
            """
        ).collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in spark.read.parquet(stream_source)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == expected


def test_stateful_dedup_stream(spark, tmp_path, stream_source):
    """Duplicate event_ids across micro-batches are dropped within the
    watermark: landing the same file twice yields each id once."""
    import shutil, os

    dup_src = str(tmp_path / "dup_events")
    os.makedirs(dup_src)
    files = [f for f in os.listdir(stream_source) if f.endswith(".parquet")]
    shutil.copy(os.path.join(stream_source, files[0]), os.path.join(dup_src, "a.parquet"))
    shutil.copy(os.path.join(stream_source, files[0]), os.path.join(dup_src, "b.parquet"))

    stream = read_event_stream(spark, dup_src, max_files_per_trigger=1)
    run_available_now(
        dedup_events_stream(stream, watermark="1 hour"),
        "dedup_events",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    out = spark.sql(
        "SELECT event_id, count(*) AS c FROM dedup_events GROUP BY event_id HAVING count(*) > 1"
    )
    assert out.count() == 0
    total = spark.sql("SELECT count(*) AS n FROM dedup_events").first()["n"]
    one_file = spark.read.parquet(os.path.join(stream_source, files[0])).count()
    assert total == one_file


def test_streaming_queries_release_scratch_state(spark):
    """Regression (ADVICE r4): the streaming/round-trip suite queries
    must not leak per-invocation state — scratch dirs are removed and
    the uuid-named memory-sink tables dropped once the (driver-sized)
    result is localized."""
    import glob
    import os
    import tempfile

    from airline_data_pipeline_spark.queries.suite import registry

    # The queries create scratch via tempfile.mkdtemp, which honors
    # TMPDIR — glob the same root, not a hardcoded /tmp.
    pat = os.path.join(tempfile.gettempdir(), "spark_graft_*")
    before_dirs = set(glob.glob(pat))
    before_tables = {t.name for t in spark.catalog.listTables()}
    df = registry()["streaming_dedup_events"].fn(spark, SF)
    assert df.count() > 0  # result survives cleanup (localized)
    leaked_dirs = set(glob.glob(pat)) - before_dirs
    assert leaked_dirs == set(), f"leaked scratch dirs: {leaked_dirs}"
    leaked_tables = {
        t.name for t in spark.catalog.listTables()
    } - before_tables
    assert not any(t.startswith("stream_dedup_") for t in leaked_tables), leaked_tables


def test_parquet_sink_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """Exactly-once across restarts: a second AvailableNow drain with
    the SAME checkpoint must process only files that arrived after the
    first drain — never re-append already-committed batches."""
    import glob
    import os
    import shutil
    import time

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.streaming.events import (
        read_event_stream,
        start_parquet_sink,
    )

    ev = table(spark, SF, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src"); os.makedirs(src)
    sink = str(tmp_path / "sink"); ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        d = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))

    land(first, "000")
    start_parquet_sink(read_event_stream(spark, src), sink, ckpt, available_now=True)
    n1 = spark.read.parquet(sink).count()
    assert n1 == first.count()

    time.sleep(1.1)  # distinct mtime for the new file
    land(second, "001")
    start_parquet_sink(read_event_stream(spark, src), sink, ckpt, available_now=True)
    out = spark.read.parquet(sink)
    # total = first + second exactly once; no duplicate event_ids
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_left_outer_interval_join_emits_null_padded_unmatched(spark, tmp_path):
    """The LEFT OUTER stream-stream join's reason for existing: a
    purchase with NO view in its window must flow through as a
    null-padded row once the watermark proves no match can arrive —
    this asserts that at least one such row actually materializes
    (the registry query's oracle comparison covers totals; this covers
    the null-emission machinery and the sentinel flush specifically)."""
    import datetime as dt

    from airline_data_pipeline_spark.streaming.events import (
        land_time_ordered_replay,
        read_event_stream,
        run_available_now,
        views_after_purchases_join,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # purchase 1: one view 10 min later -> matched pair
        (1, base, 100, "purchase", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 100, "view", 0.0, "{}"),
        # purchase 3: same user's view arrives 2h later — OUTSIDE the
        # 1h window -> must emit null-padded
        (3, base + dt.timedelta(minutes=20), 200, "purchase", 1.0, "{}"),
        (4, base + dt.timedelta(minutes=140), 200, "view", 0.0, "{}"),
        # purchase 5: user has no views at all -> must emit null-padded
        (5, base + dt.timedelta(minutes=30), 300, "purchase", 1.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev = spark.createDataFrame(rows, schema)
    sentinel = spark.createDataFrame(
        [
            (-1, base + dt.timedelta(days=30), -1, "purchase", 0.0, "{}"),
            (-2, base + dt.timedelta(days=30), -1, "view", 0.0, "{}"),
        ],
        schema,
    )
    src = str(tmp_path / "events")
    land_time_ordered_replay(ev, src, n_chunks=2, sentinel_df=sentinel)
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
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        run_available_now(
            pairs, "lojoin_nullpad", output_mode="append",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        got = spark.table("lojoin_nullpad").filter(F.col("p_user") != -1).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.catalog.dropTempView("lojoin_nullpad")
    by_purchase = {}
    for r in got:
        by_purchase.setdefault(r["purchase_id"], []).append(r)
    # matched pair emitted with real view columns
    assert [r["view_id"] for r in by_purchase[1]] == [2]
    # the null-padded side: both unmatched purchases emitted exactly one
    # row each with null view columns, released by the sentinel flush
    for pid in (3, 5):
        rows_p = by_purchase[pid]
        assert len(rows_p) == 1, rows_p
        assert rows_p[0]["view_id"] is None and rows_p[0]["v_ts"] is None
    null_padded = [r for r in got if r["view_id"] is None]
    assert len(null_padded) == 2


def test_corpus_gate_sink_micro_batched_and_resume_safe(spark, tmp_path):
    """run_corpus_gate_sink: (a) genuinely micro-batches (one batch=<id>
    dir per trigger), (b) the landed union equals the one-shot batch
    gate regardless of batching, (c) restarting on the same checkpoint
    reprocesses nothing (no duplicate rows)."""
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
        write_minhash_index,
    )
    from airline_data_pipeline_spark.streaming.events import (
        read_docs_stream,
        run_corpus_gate_sink,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    ref = docs.filter(F.col("source") == "src0")
    inc = docs.filter(F.col("source") != "src0")
    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_minhash_index(ref, idx, num_hashes=32, bands=16)
    inc.repartition(6).write.parquet(src)

    run_corpus_gate_sink(
        read_docs_stream(spark, src, max_files_per_trigger=2), idx, out, ckpt
    )
    import os

    batch_dirs = [p for p in os.listdir(out) if p.startswith("batch=")]
    assert len(batch_dirs) >= 2, batch_dirs  # 6 files / 2 per trigger

    landed = spark.read.parquet(out)
    want = {
        r["doc_id"]
        for r in dedup_minhash_against_index(inc, idx, threshold=0.7).collect()
    }
    assert {r["doc_id"] for r in landed.collect()} == want

    # resume on the same checkpoint: nothing new to process, no dupes
    run_corpus_gate_sink(
        read_docs_stream(spark, src, max_files_per_trigger=2), idx, out, ckpt
    )
    assert spark.read.parquet(out).count() == len(want)


def test_statestore_reader_shows_watermark_eviction(spark, tmp_path):
    """The statestore source must reflect dedup-state TTL: keys whose
    (event time + delay) fell behind the stream-end watermark are GONE
    from the recovered state even though every first-seen event was
    emitted. Three single-file micro-batches (maxFilesPerTrigger=1)
    advance the watermark past the first two batches' expiries; only
    the final batch's key survives the horizon. Complements the
    oracle-checked `streaming_state_introspection` query, whose
    wide-delay setting deliberately evicts nothing."""
    import datetime
    import glob
    import os
    import shutil
    import time
    import uuid

    src = str(tmp_path / "src")
    os.makedirs(src)

    def land(fname, rows, mtime):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
        stage = str(tmp_path / ("stage_" + fname))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(src, fname)
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0], dst)
        os.utime(dst, (mtime, mtime))

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    late = t0 + datetime.timedelta(hours=2)
    later = t0 + datetime.timedelta(hours=4)
    now = time.time()
    land("00.parquet", [(1, t0, 10, "view", 1.0, "{}"),
                        (2, t0, 11, "view", 1.0, "{}")], now)
    land("01.parquet", [(3, late, 12, "view", 1.0, "{}")], now + 1)
    land("02.parquet", [(4, later, 13, "view", 1.0, "{}")], now + 2)

    stream = dedup_events_stream(
        read_event_stream(spark, src, max_files_per_trigger=1),
        watermark="10 minutes",
    )
    name = "evict_" + uuid.uuid4().hex[:8]
    ckpt = str(tmp_path / "ckpt")
    try:
        run_available_now(stream, name, output_mode="append", checkpoint_dir=ckpt)
        # every first occurrence was emitted downstream...
        assert sorted(
            r["event_id"] for r in spark.table(name).collect()
        ) == [1, 2, 3, 4]
        # ...but state keeps only keys within the final watermark
        # horizon: expiry(ts + 10min) >= watermark(max_ts - 10min)
        state = spark.read.format("statestore").load(ckpt)
        assert sorted(r["key"]["event_id"] for r in state.collect()) == [4]
    finally:
        spark.catalog.dropTempView(name)


def test_ann_annotate_stream_equals_one_shot_probe(spark, tmp_path):
    """The streaming ANN annotate sink is vs-INDEX only, so the landed
    union must equal the one-shot batch probe's top-k regardless of
    micro-batch partitioning (here: 6 files, 2 per trigger = 3
    triggers), with idempotent per-batch output dirs."""
    import os

    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group
    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_ann_annotate_sink,
    )

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    idx = str(tmp_path / "ann_idx")
    src = str(tmp_path / "ann_src")
    out = str(tmp_path / "ann_out")
    ckpt = str(tmp_path / "ann_ckpt")
    similarity.write_ivf_index(e, idx, n_centroids=8)
    q = e.filter(F.col("vec_id") < 12)
    q.repartition(6).write.mode("overwrite").parquet(src)

    run_ann_annotate_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=2),
        idx, out, ckpt, k=5, nprobe=3, score_digits=4,
    )

    landed = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in spark.read.parquet(out)
        .select("query_id", "neighbor_id", "score")
        .collect()
    }
    one_shot_scored = similarity.ivf_index_scores(q, idx, nprobe=3).select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    one_shot = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in top_k_per_group(
            one_shot_scored, ["query_id"], "score", 5,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    assert landed == one_shot and landed
    # idempotent layout: one batch=<id> dir per trigger
    batches = [d for d in os.listdir(out) if d.startswith("batch=")]
    assert len(batches) == 3, batches


def test_ann_annotate_stream_survives_concurrent_compaction(spark, tmp_path):
    """ADVICE r11: the sink's cells scan snapshots the file listing at
    load time, so a `compact_ivf_cells` swap while the stream is live
    deletes files the snapshot still points at and the next trigger
    used to die with FileNotFoundException. The sink now catches the
    stale-listing failure, reloads the index handles, and retries the
    (idempotent) batch — maintenance and serving can overlap."""
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group
    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_ann_annotate_sink,
    )

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    idx = str(tmp_path / "cc_idx")
    src = str(tmp_path / "cc_src")
    out = str(tmp_path / "cc_out")
    ckpt = str(tmp_path / "cc_ckpt")
    # several appends so compaction has small files to merge (and thus
    # definitely REPLACES the files the loaded scan points at)
    similarity.write_ivf_index(e.filter("vec_id % 3 = 0"), idx, n_centroids=8)
    similarity.append_to_ivf_index(e.filter("vec_id % 3 = 1"), idx)
    similarity.append_to_ivf_index(e.filter("vec_id % 3 = 2"), idx)

    q1 = e.filter(F.col("vec_id") < 6)
    q2 = e.filter((F.col("vec_id") >= 6) & (F.col("vec_id") < 12))
    q1.coalesce(1).write.mode("overwrite").parquet(src)

    q = run_ann_annotate_sink(
        read_vectors_stream(spark, src), idx, out, ckpt,
        k=5, nprobe=3, score_digits=4, available_now=False,
    )
    try:
        q.processAllAvailable()  # trigger 1: probes the pre-compact files
        similarity.compact_ivf_cells(spark, idx)  # swap deletes them
        q2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # trigger 2: stale listing → reload+retry
        assert q.exception() is None
    finally:
        q.stop()

    landed = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in spark.read.parquet(out).collect()
    }
    scored = similarity.ivf_index_scores(
        e.filter(F.col("vec_id") < 12), idx, nprobe=3
    ).select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    expect = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in top_k_per_group(
            scored, ["query_id"], "score", 5,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    assert landed == expect and landed


def test_state_migration_equals_uninterrupted_replay(spark, tmp_path):
    """VERDICT r11 #4: the migrated pipeline (phase-1 stream → state
    dump → resumed stream on a FRESH checkpoint) must land exactly the
    unique events, row-for-row — cross-restart replays of phase-1
    events are dropped by the snapshot anti-join (load-bearing: they
    are invisible to the new checkpoint's empty dedup state), and
    phase-2's own duplicates by the new in-stream state."""
    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.streaming.events import (
        dedup_events_stream,
        dump_dedup_state,
        read_event_stream,
        run_migrated_dedup_sink,
        start_parquet_sink,
    )

    ev = table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("event_id") % 5 == 0
    )
    part1 = ev.filter(F.col("event_id") % 2 == 0)
    part2 = ev.filter(F.col("event_id") % 2 == 1)
    dups1 = part1.filter(F.col("event_id") % 3 == 0)
    dups2 = part2.filter(F.col("event_id") % 3 == 0)
    src1, out1, ckpt1, snap, src2, out2, ckpt2 = (
        str(tmp_path / d)
        for d in ("src1", "out1", "ckpt1", "snap", "src2", "out2", "ckpt2")
    )
    part1.unionByName(dups1).write.parquet(src1)
    start_parquet_sink(
        dedup_events_stream(
            read_event_stream(spark, src1), watermark="87600 hours"
        ),
        out1, ckpt1, available_now=True,
    )
    dump_dedup_state(spark, ckpt1, snap)
    # snapshot holds exactly phase 1's distinct keys
    snap_ids = {r["event_id"] for r in spark.read.parquet(snap).collect()}
    assert snap_ids == {r["event_id"] for r in part1.collect()}

    part2.unionByName(dups2).unionByName(dups1).repartition(2).write.parquet(
        src2
    )
    run_migrated_dedup_sink(
        read_event_stream(spark, src2, max_files_per_trigger=1),
        snap, out2, ckpt2, watermark="87600 hours",
    )
    landed = spark.read.parquet(out1).unionByName(
        spark.read.parquet(out2).drop("batch")
    )
    got = sorted(r["event_id"] for r in landed.select("event_id").collect())
    want = sorted(r["event_id"] for r in ev.select("event_id").collect())
    assert got == want  # every event exactly once, across the restart
    # the cross-restart replays really were present in phase-2's source
    # (the anti-join had work to do)
    assert dups1.count() > 0
    # and phase 2 landed only the odd half
    p2_ids = {
        r["event_id"]
        for r in spark.read.parquet(out2).select("event_id").collect()
    }
    assert p2_ids == {r["event_id"] for r in part2.collect()}


def test_ann_annotate_stream_pq_mode_equals_full_vector_sink(spark, tmp_path):
    """use_pq=True serves micro-batches from the product-quantization
    artifact: candidates from the m-bytes-per-row pqcodes scan, exact
    re-rank of the ADC top-rerank only. Scores stay exact, so the
    landed union must equal both the full-vector one-shot probe's
    top-k AND what the non-PQ sink lands — the serving-path mirror of
    knn_via_pq_ivf_index's oracle contract. A PQ sink on an index with
    no PQ artifact must fail at STREAM SETUP (handles load once),
    naming the missing verb."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.operators.topk import top_k_per_group
    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_ann_annotate_sink,
    )

    e = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    idx = str(tmp_path / "pq_idx")
    src = str(tmp_path / "pq_src")
    out = str(tmp_path / "pq_out")
    ckpt = str(tmp_path / "pq_ckpt")
    similarity.write_ivf_index(e, idx, n_centroids=16)
    q = e.filter(F.col("vec_id") < 12)
    q.repartition(4).write.mode("overwrite").parquet(src)

    # no PQ artifact yet: the sink must refuse at setup, not per batch
    with _pytest.raises(ValueError, match="add_pq_to_ivf_index"):
        run_ann_annotate_sink(
            read_vectors_stream(spark, src, max_files_per_trigger=2),
            idx, out, ckpt, k=5, nprobe=16, score_digits=4, use_pq=True,
        )

    similarity.add_pq_to_ivf_index(spark, idx, m=16, ksub=256)
    run_ann_annotate_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=2),
        idx, out, ckpt, k=5, nprobe=16, score_digits=4,
        use_pq=True, rerank=150,
    )

    landed = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in spark.read.parquet(out)
        .select("query_id", "neighbor_id", "score")
        .collect()
    }
    one_shot_scored = similarity.ivf_index_scores(q, idx, nprobe=16).select(
        "query_id", "neighbor_id", round_half_up(F.col("score"), 4).alias("score")
    )
    one_shot = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in top_k_per_group(
            one_shot_scored, ["query_id"], "score", 5,
            ascending=False, tiebreakers=["neighbor_id"],
        ).collect()
    }
    assert landed == one_shot and landed


def test_ingest_admit_loop_sequential_and_replay_idempotent(spark, tmp_path):
    """run_corpus_ingest_admit_sink: (a) a doc that near-duplicates an
    EARLIER stream arrival drops even when the frozen index would admit
    it (the semantics the vs-reference gate can't express); (b) a full
    re-run from a FRESH checkpoint into the same (stale) out_dir lands
    an identical result — the strictly-earlier-ids rule means a
    replayed batch never joins its own or any later batch's stale
    directory, the crash-replay property the sink's design note
    claims."""
    import glob
    import os
    import shutil

    from airline_data_pipeline_spark.operators.dedup import write_minhash_index
    from airline_data_pipeline_spark.streaming.events import (
        read_docs_stream,
        run_corpus_ingest_admit_sink,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    ref = docs.filter(F.col("source") == "src0")
    inc = docs.filter(F.col("source") != "src0")
    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    write_minhash_index(ref, idx, num_hashes=32, bands=16)
    batch_expr = F.expr("CAST(substring(source, 4) AS INT) % 4")
    for k in range(4):
        stage = str(tmp_path / f"stage{k}")
        inc.filter(batch_expr == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        dst = f"{src}/{k:04d}.parquet"
        shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    run_corpus_ingest_admit_sink(
        read_docs_stream(spark, src, max_files_per_trigger=1),
        idx, out, str(tmp_path / "ckpt1"),
    )
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(out + "/batch=*").collect()
    )
    # (a) sequential semantics: strictly more drops than vs-index alone
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_index,
    )

    vs_index_only = dedup_minhash_against_index(inc, idx, threshold=0.7)
    assert len(first) < vs_index_only.count()
    assert len(first) > 0

    # (b) fresh-checkpoint replay over the stale out_dir: identical
    run_corpus_ingest_admit_sink(
        read_docs_stream(spark, src, max_files_per_trigger=1),
        idx, out, str(tmp_path / "ckpt2"),
    )
    second = sorted(
        r["doc_id"] for r in spark.read.parquet(out + "/batch=*").collect()
    )
    assert second == first


def test_fold_admitted_batches_retires_delta_and_equals_rebuild(spark, tmp_path):
    """Round-14 maintenance verb closing the admit loops' documented
    gap: folding the landed ``batch=`` delta into the stored index must
    (a) gate exactly like a from-scratch rebuild on the union corpus,
    (b) retire the folded dirs out of the sinks' ``batch=``-prefixed
    delta scan (renamed to ``folded=``, data preserved), (c) be
    semantically idempotent — a crash-shaped double fold of the same
    rows changes no gate decision — and (d) no-op on an empty/absent
    delta. Both artifact kinds."""
    import os

    from airline_data_pipeline_spark.operators import dedup, similarity
    from airline_data_pipeline_spark.streaming.events import (
        fold_admitted_batches,
    )

    # ---- text loop ----
    d = table(spark, SF, "documents").select("doc_id", "text", "source")
    ref = d.filter(F.col("source") == "src0")
    admitted = d.filter(F.col("source") == "src1")
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    idx = str(tmp_path / "mh_fold")
    rebuilt = str(tmp_path / "mh_rebuilt")
    out = str(tmp_path / "mh_delta")
    dedup.write_minhash_index(ref, idx, num_hashes=32, bands=16)
    dedup.write_minhash_index(
        ref.unionByName(admitted), rebuilt, num_hashes=32, bands=16
    )
    for k, half in ((0, admitted.filter(F.col("doc_id") % 2 == 0)),
                    (1, admitted.filter(F.col("doc_id") % 2 == 1))):
        half.write.mode("overwrite").parquet(f"{out}/batch={k}")

    n = fold_admitted_batches(spark, out, idx, kind="minhash")
    assert n == admitted.count()
    assert sorted(os.listdir(out)) == ["folded=0", "folded=1"]

    def gate(root):
        return sorted(
            r["doc_id"]
            for r in dedup.dedup_minhash_against_index(
                inc, root, threshold=0.7
            ).collect()
        )

    want = gate(rebuilt)
    assert gate(idx) == want
    assert dedup.fsck_minhash_index(spark, idx).count() == 0
    # empty delta after retirement: fold is a no-op
    assert fold_admitted_batches(spark, out, idx, kind="minhash") == 0
    assert fold_admitted_batches(
        spark, str(tmp_path / "nonexistent"), idx, kind="minhash"
    ) == 0
    # crash-shaped double fold: the same rows land as a new batch dir
    # and fold again — gate decisions must not change
    admitted.write.mode("overwrite").parquet(f"{out}/batch=2")
    assert fold_admitted_batches(spark, out, idx, kind="minhash") == n
    assert gate(idx) == want

    # ---- embedding loop ----
    e = table(spark, SF, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    vref = e.filter((F.col("label") == 0) & (F.col("vec_id") % 2 == 0))
    vadm = e.filter((F.col("label") == 0) & (F.col("vec_id") % 2 == 1))
    vinc = e.filter(F.col("label") != 0)
    vidx = str(tmp_path / "srp_fold")
    vwhole = str(tmp_path / "srp_whole")
    vout = str(tmp_path / "srp_delta")
    similarity.write_srp_index(vref, vidx, dims=64, n_bits=2, n_tables=24)
    similarity.write_srp_index(
        vref.unionByName(vadm), vwhole, dims=64, n_bits=2, n_tables=24
    )
    vadm.select("vec_id", "embedding").write.mode("overwrite").parquet(
        f"{vout}/batch=0"
    )
    assert fold_admitted_batches(spark, vout, vidx, kind="srp") == vadm.count()
    assert sorted(os.listdir(vout)) == ["folded=0"]

    def vgate(root):
        return sorted(
            r["vec_id"]
            for r in similarity.embedding_gate_against_index(
                vinc, root, threshold=0.45, round_digits=4
            ).collect()
        )

    assert vgate(vidx) == vgate(vwhole)
    assert similarity.fsck_srp_index(spark, vidx).count() == 0

    with pytest.raises(ValueError, match="kind must be"):
        fold_admitted_batches(spark, vout, vidx, kind="ivf")


def test_fold_retire_survives_reused_batch_ids(spark, tmp_path):
    """ADVICE r15 low #4: a restarted admit loop with a fresh
    checkpoint reuses batch ids, so a second fold can meet a
    ``folded=<id>`` dir left by the first — and a Hadoop dir-rename
    into an existing destination "succeeds" by NESTING the source
    inside it (``folded=0/batch=0``, a silently corrupted audit
    layout). The retire must land at a unique sibling name instead,
    keep the data, and leave gate decisions unchanged."""
    import os

    from airline_data_pipeline_spark.operators import dedup
    from airline_data_pipeline_spark.streaming.events import (
        fold_admitted_batches,
    )

    d = table(spark, SF, "documents").select("doc_id", "text", "source")
    ref = d.filter(F.col("source") == "src0")
    admitted = d.filter(F.col("source") == "src1")
    inc = d.filter(~F.col("source").isin("src0", "src1"))
    idx = str(tmp_path / "mh_fold_reuse")
    out = str(tmp_path / "mh_delta_reuse")
    dedup.write_minhash_index(ref, idx, num_hashes=32, bands=16)
    admitted.write.mode("overwrite").parquet(f"{out}/batch=0")
    n = fold_admitted_batches(spark, out, idx, kind="minhash")
    assert n == admitted.count()

    def gate():
        return sorted(
            r["doc_id"]
            for r in dedup.dedup_minhash_against_index(
                inc, idx, threshold=0.7
            ).collect()
        )

    want = gate()
    # restart-shaped id reuse: the same batch id lands again
    admitted.write.mode("overwrite").parquet(f"{out}/batch=0")
    assert fold_admitted_batches(spark, out, idx, kind="minhash") == n
    assert sorted(os.listdir(out)) == ["folded=0", "folded=0_1"]
    # NOT nested — the corrupted layout the fix exists to prevent
    assert not os.path.exists(f"{out}/folded=0/batch=0")
    # audit data preserved in both retire dirs, gates unchanged
    assert spark.read.parquet(f"{out}/folded=0").count() == n
    assert spark.read.parquet(f"{out}/folded=0_1").count() == n
    assert gate() == want
    assert dedup.fsck_minhash_index(spark, idx).count() == 0


def test_vector_admit_sink_skip_hot_threads_ledger(spark, tmp_path):
    """The r14 skew guard at the SINK level: run_vector_ingest_admit_sink
    (skip_hot=True) loads the SRP hot-bucket ledger once per stream and
    threads it into every trigger's stored-side gate — a crafted hot
    cluster's duplicates ADMIT (the bounded-cost trade) while non-hot
    duplicates still drop; skip_hot without a materialized ledger fails
    loudly before the stream starts."""
    import glob
    import os
    import shutil

    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.operators import similarity
    from airline_data_pipeline_spark.streaming.events import (
        read_vectors_stream,
        run_vector_ingest_admit_sink,
    )

    def vec(axis):
        v = [0.0] * 64
        v[axis] = 1.0
        return v

    # reference: a 60-copy boilerplate cluster + two singletons
    ref_rows = [(100 + i, vec(0)) for i in range(60)]
    ref_rows += [(200, vec(1)), (201, vec(2))]
    ref = local_df(spark, ref_rows, "vec_id bigint, embedding array<double>")
    idx = str(tmp_path / "srp_sink_hot")
    similarity.write_srp_index(ref, idx, dims=64, n_bits=8, n_tables=4)

    # stream: batch 0 = {cluster dup, non-hot dup, novel}
    src = str(tmp_path / "src")
    os.makedirs(src)
    batch = local_df(
        spark,
        [(1, vec(0)), (2, vec(1)), (3, vec(3))],
        "vec_id bigint, embedding array<double>",
    )
    stage = str(tmp_path / "stage")
    batch.coalesce(1).write.mode("overwrite").parquet(stage)
    shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/0000.parquet")

    # ledger missing -> loud, BEFORE any trigger runs
    with pytest.raises(ValueError, match="refresh_srp_hot_buckets"):
        run_vector_ingest_admit_sink(
            read_vectors_stream(spark, src, max_files_per_trigger=1),
            idx, str(tmp_path / "out0"), str(tmp_path / "ckpt0"),
            threshold=0.95, skip_hot=True,
        )

    assert similarity.refresh_srp_hot_buckets(spark, idx, hot_threshold=50) == 4
    run_vector_ingest_admit_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=1),
        idx, str(tmp_path / "out1"), str(tmp_path / "ckpt1"),
        threshold=0.95, skip_hot=True,
    )
    admitted = sorted(
        r["vec_id"]
        for r in spark.read.parquet(str(tmp_path / "out1") + "/batch=*").collect()
    )
    # hot-cluster dup (1) admitted un-gated; non-hot dup (2) dropped
    assert admitted == [1, 3]

    # control: unguarded sink drops the cluster dup too
    run_vector_ingest_admit_sink(
        read_vectors_stream(spark, src, max_files_per_trigger=1),
        idx, str(tmp_path / "out2"), str(tmp_path / "ckpt2"),
        threshold=0.95,
    )
    unguarded = sorted(
        r["vec_id"]
        for r in spark.read.parquet(str(tmp_path / "out2") + "/batch=*").collect()
    )
    assert unguarded == [3]
