"""Structured Streaming over the events stream (SURVEY.md §2.8).

The reference is batch-daily (`schedule_interval=timedelta(days=1)`)
and lists "real time data processing" as a To-Do — this module is that
capability, grounded in the driver's `events` table:

- file micro-batch source (the landing-dir analogue of the SFTP step)
- tumbling / sliding windowed aggregates with watermarks
- session windows
- stateful exact dedup within the watermark
- parquet/memory sinks; `Trigger.AvailableNow` for batch-equivalent
  replays (the stream-batch equivalence test in tests/test_streaming.py
  runs the same aggregation both ways and compares)

All transformations are expressed once and used by both the batch and
streaming paths — the DataFrame API is identical, which is the point:
stream-batch unification is Spark's model, and the engine keeps every
aggregation defined in one place.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@contextmanager
def scoped_stream_shuffle_partitions(spark: SparkSession, n: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` to the micro-batch volume
    for the duration of a replayed sink run (guide §2.1/§5, VERDICT
    r15 #3).

    Why: AQE is DISABLED under streaming plans (Spark logs exactly
    that at stream start), so inside a trigger the session's
    shuffle-partition setting is LITERAL — every shuffle a foreachBatch
    gate runs, every stateful operator's state-store directory set, and
    every per-batch output write fans out to the session's
    batch-oriented default (32 on this box) on micro-batches whose data
    is kilobytes: 32 near-empty tasks per exchange, 32 checkpoint-
    fsyncing state dirs per stateful op per trigger, 32 shard files per
    landed ``batch=`` dir for the NEXT trigger to re-open. Micro-batch
    work should be sized to per-trigger data volume, which is small by
    design at ANY cluster size — this is a scale-independent sizing
    rule, not a local[32] trick; BASELINE.md measured the same effect
    on the stream-stream interval join in r11 (the 8-partition scoping
    precedent this generalizes).

    ``n`` defaults from ``$SPARK_GRAFT_STREAM_PARTITIONS`` (8): a
    production deployment with genuinely large triggers raises the env
    or passes ``n`` explicitly. Scoped + restored so the caller's
    session conf is untouched; the sinks apply it only around
    availableNow replays they run to completion themselves.
    """
    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# Streaming readers require an explicit schema (no inference on a
# stream). Events land as parquet with microsecond timestamps here —
# the nanos-as-long conversion only applies to the driver's original
# files, which tests re-write through `prepare_stream_source`.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File micro-batch source over a landing directory (op S3 analog).

    At scale the same code points at cloud storage; new files become
    micro-batches. `maxFilesPerTrigger` bounds batch size for steady
    latency.
    """
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    # `is not None`, not truthiness: an explicit 0 must reach Spark's
    # own "maxFilesPerTrigger must be positive" rejection, not silently
    # uncap the batch size
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding) windowed count+sum per event type.

    Works identically on a batch or streaming DataFrame. The watermark
    bounds state: windows older than max(event time) − watermark are
    finalized and evicted — without it, streaming state grows forever.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user: events grouped by activity sessions
    separated by ≥gap of silence (`session_window`). The batch analog
    is the lag+cumsum sessionize query (queries/suite.py) — the
    streaming test asserts both agree on session counts."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon.

    `dropDuplicatesWithinWatermark` keeps state only for the watermark
    window — the streaming analog of exact dedup, with bounded memory.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def dump_dedup_state(spark, checkpoint_dir: str, snapshot_dir: str) -> None:
    """STATE DUMP — step one of checkpoint migration (VERDICT r11 #4).

    Reads a dedup checkpoint's state store back through Spark 4's
    `statestore` source (no stream replay: the state files themselves
    are the input) and lands the SEEN-KEY SET as a plain parquet
    snapshot — one column per state key field. This is the portable
    form of the operator's memory: a new query with a changed plan
    can't resume the old checkpoint (Spark rejects operator-graph
    changes on restart, and state formats are operator-private), but
    any query can anti-join a parquet table.

    The dump is state-sized, not stream-sized: for a watermarked dedup
    the store holds only the keys inside the late-data horizon, so at
    100 TB this writes the horizon, not the history. IO-parallel on
    the state store's own partitioning.
    """
    state = spark.read.format("statestore").load(checkpoint_dir)
    state.select("key.*").write.mode("overwrite").parquet(snapshot_dir)


def run_migrated_dedup_sink(
    events_stream: DataFrame,
    snapshot_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_id",
    watermark: str = "10 minutes",
    available_now: bool = True,
):
    """Resume a dedup stream on a NEW checkpoint seeded from a state
    dump — step two of checkpoint migration (VERDICT r11 #4), the op
    an on-call team actually needs after an operator change: the old
    checkpoint is unresumable (changed query shape), yet events already
    admitted before the change must NOT re-admit when upstream replays
    them.

    Two-layer dedup, each layer owning one side of the restart
    boundary: `dropDuplicatesWithinWatermark` (fresh state under the
    new checkpoint) handles duplicates WITHIN the resumed stream, and
    each micro-batch anti-joins the `dump_dedup_state` snapshot to
    drop replays of keys the OLD incarnation admitted. The landed
    union of old + new outputs therefore equals one uninterrupted
    replay's (oracle-checked: `streaming_state_migration`).

    The snapshot handle loads ONCE (the per-trigger hygiene of the
    other foreachBatch sinks); the anti-join's build side is the
    state-sized snapshot, which Spark broadcasts when small — at a
    horizon too large to broadcast it degrades to a shuffled anti-join
    of batch-vs-horizon, still never stream-history-sized. Replay
    idempotence: per-batch ``batch=<id>`` overwrite dirs, as
    elsewhere.
    """
    spark = events_stream.sparkSession
    seen = spark.read.parquet(snapshot_dir).select(key_col)
    deduped = events_stream.withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark([key_col])

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.join(seen, on=key_col, how="left_anti").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    writer = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # replay runs to completion here — scope the dedup state-store
        # fan-out (one checkpoint-fsyncing dir per shuffle partition
        # per trigger) to micro-batch volume
        writer = writer.trigger(availableNow=True)
        with scoped_stream_shuffle_partitions(spark):
            q = writer.start()
            q.awaitTermination()
        return q
    return writer.start()


def land_time_ordered_replay(
    df: DataFrame,
    src_dir: str,
    ts_col: str = "ts",
    n_chunks: int = 4,
    sentinel_df: DataFrame | None = None,
) -> None:
    """Land a batch DataFrame as an event-time-ordered sequence of
    micro-batchable parquet files (one per chunk, strictly increasing
    mtimes so the file source replays them in order), optionally
    followed by a final watermark-flush ``sentinel_df`` file.

    Replay utility for deterministic stream-vs-batch testing: real
    feeds arrive roughly time-ordered by nature; a random-order replay
    would make whole batches 'late' and watermarks would (correctly)
    drop them. The one global sort (`ntile` over the time column) is a
    test-time cost, not a production path. The sentinel pattern is the
    standard way to DRAIN watermark-gated state at end-of-stream:
    outer-join null emissions and final windows only fire once the
    watermark passes them, and the watermark only advances on new data
    — a far-future row per stream side pushes it past everything real.
    """
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    os.makedirs(src_dir, exist_ok=True)
    staged = tempfile.mkdtemp(prefix="spark_graft_replay_stage_")
    chunked = df.withColumn(
        "__chunk", F.ntile(n_chunks).over(Window.orderBy(F.col(ts_col)))
    )
    seq = 0
    now = time.time()
    for i in range(1, n_chunks + 1):
        cdir = os.path.join(staged, f"c{i}")
        (
            chunked.filter(F.col("__chunk") == i)
            .drop("__chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(cdir)
        )
        part = glob.glob(os.path.join(cdir, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"{seq:05d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + seq, now + seq))
        seq += 1
    if sentinel_df is not None:
        cdir = os.path.join(staged, "sentinel")
        sentinel_df.coalesce(1).write.mode("overwrite").parquet(cdir)
        part = glob.glob(os.path.join(cdir, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"{seq:05d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + seq, now + seq))
    shutil.rmtree(staged, ignore_errors=True)


def views_after_purchases_join(
    purchases: DataFrame,
    views: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's views landing within ``window_seconds`` AFTER it.

    The real Structured Streaming stream-stream join: both sides are
    watermarked and the join condition carries an event-time range, so
    the engine can bound per-key state — a purchase's buffered row is
    dropped once the view-side watermark passes ``p_ts +
    window_seconds``, and an unmatched view is dropped once the
    purchase-side watermark passes its timestamp. Without the time
    bound, stream-stream join state grows forever; with it, state is
    O(events in the watermark horizon) regardless of stream length.

    Inner-join matches are emitted as they arrive (the watermark gates
    state eviction and late data, not emission), so an AvailableNow
    drain over an event-time-ordered replay yields exactly the batch
    interval join's pairs — asserted against the DuckDB oracle by the
    `streaming_interval_join_views` registry query.

    ``how='left_outer'`` adds the harder semantics: a purchase with NO
    view in its window emits a null-padded row — but only once the
    view-side watermark passes ``p_ts + window_seconds`` (the engine
    must prove no match can still arrive). At end-of-stream the
    watermark stops advancing, so the tail's unmatched rows stay
    buffered forever unless a flush sentinel pushes the watermark past
    them — see `land_time_ordered_replay(sentinel_df=...)` and the
    `streaming_interval_left_join_views` registry query, whose
    zero-view purchases come PURELY from the stream.
    """
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS"))
    )
    return p.join(v, cond, how).select(
        "purchase_id", "p_user", "view_id", "p_ts", "v_ts"
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum,
    maintained across micro-batches with `applyInPandasWithState`.

    This is the pattern for operators Spark's built-ins can't express
    (per-key ML state, CEP, custom sessionization): Arrow-batched pandas
    per key group, an explicit GroupState carrying (count, total), one
    output row per key per batch. State is per-key and partitioned by
    the groupBy key — it scales horizontally with executors.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> None:
    """Drain everything currently available through the streaming
    engine into an in-memory table (`spark.sql(f"SELECT * FROM
    {query_name}")`), then stop — the batch-equivalent replay used by
    the equivalence tests and by backfills."""
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def start_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    available_now: bool = False,
):
    """Production sink: exactly-once parquet append with checkpointing.
    ``available_now=True`` drains what's currently available and blocks
    until done (backfill / batch-equivalent replay); the default starts
    a continuous query and returns its handle. For JDBC/warehouse
    sinks, call `io.writers.write_jdbc` from a ``foreachBatch``."""
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # replay runs to completion here — scope the state-store /
        # shuffle fan-out to micro-batch volume (a stateful operator
        # checkpoints one state dir PER shuffle partition per trigger)
        writer = writer.trigger(availableNow=True)
        with scoped_stream_shuffle_partitions(stream_df.sparkSession):
            q = writer.start()
            q.awaitTermination()
        return q
    return writer.start()


DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_docs_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File micro-batch source over a document landing directory — the
    corpus-ingest twin of `read_event_stream`. At scale this points at
    the crawler's drop bucket; each new file batch becomes a
    micro-batch."""
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:  # 0 must error, not uncap
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


VECTORS_STREAM_SCHEMA = "vec_id long, embedding array<double>"


def read_vectors_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File micro-batch source over an embedding landing directory —
    the vector twin of `read_docs_stream`. At scale this points at the
    embedding job's output bucket; each new file batch becomes a
    micro-batch of ANN queries."""
    reader = spark.readStream.schema(VECTORS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:  # 0 must error, not uncap
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def run_ann_annotate_sink(
    vec_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    nprobe: int = 4,
    score_digits: int | None = None,
    available_now: bool = True,
    use_pq: bool = False,
    rerank: int = 150,
):
    """Continuous ANN annotation: every micro-batch of query vectors is
    probed against a frozen corpus's STORED IVF index
    (`similarity.write_ivf_index`) and lands with its top-k neighbors —
    the streaming serving shape of the ANN family, completing the
    batch (`knn_via_ivf_index`) and incremental (`append_to_ivf_index`)
    lifecycle. The annotation is vs-INDEX only, so the landed union is
    invariant to micro-batch partitioning — annotating N files in one
    trigger or N triggers of one file lands the same rows, which is
    what makes the stream equal its batch twin (oracle-checked:
    `streaming_ann_annotate`).

    Per-trigger hygiene mirrors `run_corpus_gate_sink`: the index
    handles (meta, centroid matrix, cell scan) load ONCE here — not a
    driver-blocking meta read + centroid collect per trigger — and each
    micro-batch probe broadcasts batch-sized rows against the
    cell-partitioned scan with the static IN-list pruning of
    `ivf_scores_against_loaded_index` (only the probed cells' files are
    listed per trigger). Replay idempotence: each batch overwrites its
    OWN ``batch=<id>`` subdirectory — the foreachBatch exactly-once
    recipe for file-store sinks.

    Index maintenance DURING serving (ADVICE r11): the loaded cells
    scan snapshots the file LISTING at load time, so a concurrent
    `compact_ivf_cells`/`refit_ivf_index` swap deletes files the
    snapshot still points at and the next trigger's probe throws
    FileNotFound. Appends are safe (old files survive; new rows simply
    aren't visible until reload). Rather than forbidding maintenance on
    a serving index, the sink catches the stale-listing failure,
    RELOADS the handles once, and retries the batch — the probe is
    read-only and the batch write is idempotent (overwrite of its own
    ``batch=`` dir), so the retry is safe; a second consecutive failure
    (a genuinely missing index) propagates and fails the stream.

    ``score_digits`` rounds the cosine BEFORE ranking (the kNN family's
    oracle-determinism discipline — both engines must rank identical
    values); None keeps raw doubles for callers that re-rank.

    ``use_pq=True`` serves from the index's product-quantization
    artifact (`add_pq_to_ivf_index`): per-trigger candidates come from
    the m-bytes-per-row pqcodes scan and only the ADC top-``rerank``
    per query touch the full-vector cells table — the memory lever for
    serving against a 100 TB index. Scores stay EXACT (the PQ path
    re-ranks exactly), so as long as the true top-k survive the
    shortlist the landed output is identical to the full-vector sink's
    (asserted in tests/test_streaming.py). Both handle sets load once
    per stream; the stale-listing retry reloads both.
    """
    from airline_data_pipeline_spark.functions.numeric import round_half_up
    from airline_data_pipeline_spark.operators.similarity import (
        ivf_pq_scores_against_loaded_index,
        ivf_scores_against_loaded_index,
        load_ivf_index,
        load_pq_artifact,
    )
    from airline_data_pipeline_spark.operators.topk import top_k_per_group

    spark = vec_stream.sparkSession

    def load_handles():
        h = list(load_ivf_index(spark, index_dir))
        if use_pq:
            h.extend(load_pq_artifact(spark, index_dir))
        return h

    handles = load_handles()

    def annotate_once(batch_df: DataFrame, batch_id: int) -> None:
        meta, Cn, cells = handles[:3]
        # pin_probe=False: the micro-batch is already materialized and
        # deterministic, and per-trigger localCheckpoints would
        # accumulate GC-freed-only blocks across thousands of triggers
        # (the same hygiene rule as the corpus gate's per-batch
        # unpersist)
        if use_pq:
            pm, CB, pqcodes = handles[3:]
            scored = ivf_pq_scores_against_loaded_index(
                batch_df, meta, Cn, cells, pm, CB, pqcodes,
                nprobe=nprobe, rerank=rerank,
                index_dir=index_dir, pin_probe=False,
            )
        else:
            scored = ivf_scores_against_loaded_index(
                batch_df, meta, Cn, cells, nprobe=nprobe,
                index_dir=index_dir, pin_probe=False,
            )
        if score_digits is not None:
            scored = scored.select(
                "query_id",
                "neighbor_id",
                round_half_up(F.col("score"), score_digits).alias("score"),
            )
        ranked = top_k_per_group(
            scored, ["query_id"], "score", k,
            ascending=False, tiebreakers=["neighbor_id"],
        )
        ranked.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    def annotate(batch_df: DataFrame, batch_id: int) -> None:
        try:
            annotate_once(batch_df, batch_id)
        except Exception as e:  # noqa: BLE001 — filtered by message below
            # only the stale-snapshot class is retryable; anything else
            # (bad vectors, dims drift) must fail the stream loudly
            msg = str(e)
            if "FileNotFound" not in msg and "does not exist" not in msg:
                raise
            handles[:] = load_handles()
            annotate_once(batch_df, batch_id)

    writer = (
        vec_stream.writeStream.outputMode("append")
        .foreachBatch(annotate)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # the replay runs to completion HERE, so the micro-batch-volume
        # shuffle sizing scopes + restores around it (guide §2.1/§5;
        # see scoped_stream_shuffle_partitions)
        writer = writer.trigger(availableNow=True)
        with scoped_stream_shuffle_partitions(spark):
            q = writer.start()
            q.awaitTermination()
        return q
    return writer.start()


def run_corpus_gate_sink(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    available_now: bool = True,
):
    """Continuous corpus ingestion with the near-dup gate: every
    micro-batch is filtered against the frozen reference corpus's
    stored MinHash index (`dedup.write_minhash_index` /
    `dedup_minhash_against_index`) before landing — the streaming form
    of the incremental-ingest guard.

    The gate is vs-REFERENCE only (batch-internal dups never
    self-filter, by the gate's contract), so the result is invariant
    to micro-batch partitioning: gating N files in one batch or N
    batches of one file lands the same rows — which is what makes the
    stream equal its batch twin, and what makes reprocessing safe.

    Replay idempotence: each micro-batch overwrites its OWN
    ``batch=<id>`` subdirectory (dynamic partition by the foreachBatch
    batch_id), so a retried batch replaces itself instead of appending
    duplicates — the standard foreachBatch exactly-once recipe when the
    sink is a file store rather than a transactional table.

    Per-trigger hygiene for the continuous (available_now=False) shape:
    the index handles load ONCE here — not a driver-blocking meta-read
    job per trigger — and each batch's shingle cache is unpersisted as
    soon as its write lands, so persisted blocks (memory AND disk
    spill) cannot accumulate across micro-batches.
    """
    from airline_data_pipeline_spark.operators.dedup import (
        gate_against_loaded_index,
        load_minhash_index,
        shingle_sets,
    )

    spark = docs_stream.sparkSession
    meta, b_ref, sh_ref = load_minhash_index(spark, index_dir)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        sh_new = shingle_sets(batch_df, "text", "doc_id", meta["shingle_k"])
        sh_new = sh_new.persist()
        try:
            kept = gate_against_loaded_index(
                batch_df, sh_new, meta, b_ref, sh_ref, threshold=threshold
            )
            kept.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        finally:
            sh_new.unpersist()

    writer = (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(gate_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # the replay runs to completion HERE, so the micro-batch-volume
        # shuffle sizing scopes + restores around it (guide §2.1/§5;
        # see scoped_stream_shuffle_partitions)
        writer = writer.trigger(availableNow=True)
        with scoped_stream_shuffle_partitions(spark):
            q = writer.start()
            q.awaitTermination()
        return q
    return writer.start()


def run_corpus_ingest_admit_sink(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    available_now: bool = True,
):
    """The SELF-GROWING form of the streaming corpus gate — the full
    ingest-then-admit loop of a living training corpus: every
    micro-batch is gated against the frozen reference's stored MinHash
    index AND against every batch admitted before it, so a document
    that near-duplicates an earlier STREAM arrival is dropped too (the
    plain `run_corpus_gate_sink` is vs-reference only and would admit
    both twins). Sequential semantics: batch k's reference is
    index ∪ kept(0..k-1) — exactly the loop `append_to_minhash_index`'s
    docstring prescribes ("gate the batch first, then append what was
    kept, so the next batch is deduplicated against it too"), run
    continuously.

    The growing half of the reference lives as the sink's OWN landed
    ``batch=<id>`` directories, not as in-stream index appends, for one
    reason: idempotence. A replayed batch re-reads only directories
    with id < its own, so a crash at ANY point replays to an identical
    result (the per-batch overwrite is the standard foreachBatch
    exactly-once recipe). Appending to the index inside the trigger
    would break that — a crash between the append and the checkpoint
    commit re-gates the batch against an index already containing its
    own kept rows, and near-dup twins WITHIN the batch would then drop
    each other on replay (batch-internal pairs never self-filter, by
    the gate's contract). At 100 TB the landed delta is folded into
    the stored index on a maintenance cadence with
    `append_to_minhash_index` — OUTSIDE the stream, against a quiesced
    artifact, after which the folded directories retire from the
    delta-side scan; the fold is safe there because nothing replays
    across it. Cost shape: the index side is the usual never-shuffled
    artifact scan; the delta side re-shingles only the
    previously-ADMITTED rows (bounded by ingest volume since the last
    fold, not by corpus size).

    Banding params for the delta gate come from the index's own meta,
    like every other verb — one parameter set governs the whole loop.
    """
    from airline_data_pipeline_spark.io.writers import hadoop_fs
    from airline_data_pipeline_spark.operators.dedup import (
        dedup_minhash_against_reference,
        gate_against_loaded_index,
        load_minhash_index,
        shingle_sets,
    )

    spark = docs_stream.sparkSession
    meta, b_ref, sh_ref = load_minhash_index(spark, index_dir)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        sh_new = shingle_sets(batch_df, "text", "doc_id", meta["shingle_k"])
        sh_new = sh_new.persist()
        try:
            kept = gate_against_loaded_index(
                batch_df, sh_new, meta, b_ref, sh_ref, threshold=threshold
            )
            # previously-admitted batches: STRICTLY earlier ids only —
            # on a replay the batch's own (stale) directory must never
            # join its reference, or reprocessing would self-filter
            _, fs, P = hadoop_fs(spark, out_dir)
            prev = sorted(
                st.getPath().toString()
                for st in fs.listStatus(P(out_dir))
                if st.getPath().getName().startswith("batch=")
                and int(st.getPath().getName().split("=", 1)[1]) < batch_id
            ) if fs.exists(P(out_dir)) else []
            if prev:
                kept = dedup_minhash_against_reference(
                    kept,
                    spark.read.parquet(*prev),
                    threshold=threshold,
                    num_hashes=meta["num_hashes"],
                    bands=meta["bands"],
                    shingle_k=meta["shingle_k"],
                )
            kept.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        finally:
            sh_new.unpersist()

    writer = (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(gate_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # the replay runs to completion HERE, so the micro-batch-volume
        # shuffle sizing scopes + restores around it (guide §2.1/§5;
        # see scoped_stream_shuffle_partitions)
        writer = writer.trigger(availableNow=True)
        with scoped_stream_shuffle_partitions(spark):
            q = writer.start()
            q.awaitTermination()
        return q
    return writer.start()


def run_vector_ingest_admit_sink(
    vec_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.45,
    round_digits: int | None = 4,
    available_now: bool = True,
    skip_hot: bool = False,
    max_bucket_size: int | None = None,
):
    """The embedding twin of `run_corpus_ingest_admit_sink`: every
    micro-batch of vectors is gated against the frozen reference's
    stored SRP index (`similarity.write_srp_index`) AND against every
    batch admitted before it — the SemDeDup-shaped ingest-then-admit
    loop, run continuously. Batch k's reference is
    index ∪ kept(0..k-1): a vector that near-duplicates an earlier
    STREAM arrival drops too, which the vs-reference-only gate admits.

    Same idempotence design as the text sink, for the same reason: the
    growing half lives as landed ``batch=<id>`` directories read with a
    strictly-earlier-ids rule, never as in-stream index appends, so a
    replayed batch reproduces its result exactly; the landed delta
    folds into the stored index with `append_to_srp_index` on a
    maintenance cadence, outside the stream. SRP params for the delta
    side come from the index's own meta — one hyperplane family
    governs the whole loop (seed-derived, so all three reference
    generations collide correctly).

    Skew guards (VERDICT r13 #2), one per reference generation:
    ``skip_hot=True`` loads the stored index's hot-bucket ledger ONCE
    at stream start (`refresh_srp_hot_buckets` must have run) and
    excludes those keys from the stored-side gate every trigger —
    O(1)/batch; ``max_bucket_size`` two-side-caps the admitted-delta
    gate (the delta is re-hashed per trigger anyway, so the inline cap
    is the right shape there).
    """
    from airline_data_pipeline_spark.io.writers import hadoop_fs
    from airline_data_pipeline_spark.operators.similarity import (
        embedding_gate_against_reference,
        gate_vectors_against_loaded_index,
        load_srp_hot_buckets,
        load_srp_index,
    )

    spark = vec_stream.sparkSession
    meta, b_ref, v_ref = load_srp_index(spark, index_dir)
    hot = load_srp_hot_buckets(spark, index_dir) if skip_hot else None
    md = meta.asDict()

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = gate_vectors_against_loaded_index(
            batch_df, meta, b_ref, v_ref,
            threshold=threshold, round_digits=round_digits, hot=hot,
        )
        _, fs, P = hadoop_fs(spark, out_dir)
        prev = sorted(
            st.getPath().toString()
            for st in fs.listStatus(P(out_dir))
            if st.getPath().getName().startswith("batch=")
            and int(st.getPath().getName().split("=", 1)[1]) < batch_id
        ) if fs.exists(P(out_dir)) else []
        if prev:
            kept = embedding_gate_against_reference(
                kept,
                spark.read.parquet(*prev),
                id_col=md["id_col"],
                vec_col=md["vec_col"],
                threshold=threshold,
                dims=md["dims"],
                n_bits=md["n_bits"],
                n_tables=md["n_tables"],
                max_bucket_size=max_bucket_size,
                round_digits=round_digits,
            )
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    writer = (
        vec_stream.writeStream.outputMode("append")
        .foreachBatch(gate_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # the replay runs to completion HERE, so the micro-batch-volume
        # shuffle sizing scopes + restores around it (guide §2.1/§5;
        # see scoped_stream_shuffle_partitions)
        writer = writer.trigger(availableNow=True)
        with scoped_stream_shuffle_partitions(spark):
            q = writer.start()
            q.awaitTermination()
        return q
    return writer.start()


def fold_admitted_batches(
    spark, out_dir: str, index_dir: str, kind: str = "minhash"
) -> int:
    """Fold an admit loop's landed delta into its stored index — the
    maintenance verb both ingest-admit sinks prescribe but (until
    round 14) nothing implemented: the loops keep their growing
    reference as landed ``batch=<id>`` directories for replay
    idempotence, re-hashing the admitted rows every trigger; folding
    moves those rows into the write-once artifact (ONE append of the
    union — cross-batch near-dups were already resolved by the loop's
    sequential gating) and RETIRES the folded directories by renaming
    them to ``folded=<id>``, which removes them from the sinks'
    strictly-``batch=``-prefixed delta scan while preserving the data
    for audit. Returns the number of rows folded.

    Run against a QUIESCED loop only (the sinks' documented contract:
    nothing may replay across a fold — a trigger that already gated
    against a landed dir must not re-gate against the same rows now in
    the index... which would be harmless for RESULTS, see below, but
    the retirement rename racing a live trigger's directory listing is
    not a state this verb defends).

    Crash ordering — append FIRST, retire SECOND: a crash between the
    two leaves folded rows both in the index and in still-scanned
    batch dirs, which is correct and merely costlier (gating against
    index ∪ delta where delta ⊆ index drops exactly the same rows —
    candidate pairs and contaminated ids are de-duplicated by id).
    A re-run after a crash mid-append double-appends rows already in
    the index; that is equally harmless to gate results (same
    de-duplication) and the next compaction rewrite absorbs the bytes
    — documented, like every verb in the family, as semantically
    idempotent rather than physically exactly-once.

    ``kind``: ``"minhash"`` (text loop, `append_to_minhash_index`) or
    ``"srp"`` (embedding loop, `append_to_srp_index`).
    """
    from airline_data_pipeline_spark.io.writers import hadoop_fs
    from airline_data_pipeline_spark.operators.dedup import (
        append_to_minhash_index,
    )
    from airline_data_pipeline_spark.operators.similarity import (
        append_to_srp_index,
    )

    if kind not in ("minhash", "srp"):
        raise ValueError(f"kind must be 'minhash' or 'srp', got {kind!r}")
    _, fs, P = hadoop_fs(spark, out_dir)
    if not fs.exists(P(out_dir)):
        return 0
    landed = sorted(
        (
            int(st.getPath().getName().split("=", 1)[1]),
            st.getPath().toString(),
        )
        for st in fs.listStatus(P(out_dir))
        if st.getPath().getName().startswith("batch=")
    )
    if not landed:
        return 0
    from airline_data_pipeline_spark.io.readers import count_parquet_rows

    union = spark.read.parquet(*[p for _, p in landed])
    # footer-metadata count (r15 opt): deciding WHETHER to append must
    # not cost a scan job — the append below reads the same dirs anyway
    n = sum(count_parquet_rows(spark, p) for _, p in landed)
    if n:
        if kind == "minhash":
            append_to_minhash_index(union, index_dir)
        else:
            append_to_srp_index(union, index_dir)
    for bid, path in landed:
        # the retire target may already exist — a restarted loop with a
        # fresh checkpoint reuses batch ids, so a second fold meets a
        # folded=<bid> left by the first. Hadoop dir-rename into an
        # existing destination "succeeds" by NESTING the source inside
        # it (folded=0/batch=0 — a silently corrupted audit layout,
        # ADVICE r14), so the target is probed first and the retire
        # falls back to a unique folded=<bid>_<n> name. Audit readers
        # list folded dirs individually (the partition value is a
        # string either way); the sinks' delta scan keys strictly on
        # the batch= prefix, which no retire name carries.
        dest = f"{out_dir}/folded={bid}"
        bump = 0
        while fs.exists(P(dest)):
            bump += 1
            dest = f"{out_dir}/folded={bid}_{bump}"
        if not fs.rename(P(path), P(dest)):
            raise IOError(
                f"fold of {out_dir} into {index_dir} APPENDED (the index "
                f"is complete and consistent) but retiring batch={bid} "
                f"failed — the dir will be re-read by the delta scan "
                f"(costlier, not wrong) and re-appended by a re-run "
                f"(also harmless); rename it to {dest.rsplit('/', 1)[1]} "
                f"by hand"
            )
    return n
