"""IO layer tests: the landing step (S3), file validation contracts,
CSV export sink (S4), skew helpers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.io.landing import (
    MockRemoteClient,
    land_files,
    validate_landed_file,
)
from airline_data_pipeline_spark.io.writers import write_csv_export
from airline_data_pipeline_spark.operators.skew import salted_agg
from tests.conftest import SF_ORACLE, SF_SMOKE, require_sf


# ---------------------------------------------------------------------------
# landing step (op S3)
# ---------------------------------------------------------------------------
def test_land_files_valid(tmp_path):
    result = land_files(
        MockRemoteClient(),
        str(tmp_path / "landing"),
        required_columns=["FL_DATE", "OP_CARRIER", "ORIGIN", "DEST"],
    )
    assert len(result.landed) == 2
    assert result.rejected == {}
    names = {os.path.basename(p) for p in result.landed}
    assert names == {"flight_data.csv", "weather_data.json"}


def test_land_files_quarantines_invalid(tmp_path):
    bad = MockRemoteClient(
        files={
            "empty.csv": b"",
            "no_rows.csv": b"A,B\n",
            "missing_cols.csv": b"A,B\n1,2\n",
            "bad.json": b"{not json",
            "scalar.json": b"42",
            "good.csv": b"FL_DATE,X\n1/1/2024,2\n",
        }
    )
    result = land_files(bad, str(tmp_path / "landing"), required_columns=["FL_DATE"])
    assert [os.path.basename(p) for p in result.landed] == ["good.csv"]
    reasons = {os.path.basename(p): r for p, r in result.rejected.items()}
    assert "empty" in reasons["empty.csv"]
    assert "no rows" in reasons["no_rows.csv"]
    assert "missing required columns" in reasons["missing_cols.csv"]
    assert "parse error" in reasons["bad.json"]
    assert "object or array" in reasons["scalar.json"]
    # quarantined files renamed out of the scan path
    landing = str(tmp_path / "landing")
    assert os.path.exists(os.path.join(landing, "empty.csv.rejected"))
    assert not os.path.exists(os.path.join(landing, "empty.csv"))


def test_validate_landed_file_unsupported(tmp_path):
    p = tmp_path / "x.bin"
    p.write_bytes(b"\x00")
    ok, msg = validate_landed_file(str(p))
    assert not ok and "unsupported" in msg


# ---------------------------------------------------------------------------
# CSV export sink (op S4)
# ---------------------------------------------------------------------------
def test_write_csv_export_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "export")
    write_csv_export(df, out, single_file=True)
    parts = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".csv")]
    assert len(parts) == 1
    back = spark.read.option("header", True).csv(out)
    assert {(int(r["id"]), r["s"]) for r in back.collect()} == {(1, "a"), (2, "b")}


# ---------------------------------------------------------------------------
# skew helpers
# ---------------------------------------------------------------------------
def test_remote_landing_python_datasource(spark):
    import json

    from airline_data_pipeline_spark.io.datasource import RemoteLandingDataSource

    spark.dataSource.register(RemoteLandingDataSource)
    # default fixture: 2 rows, empty cells → null
    df = spark.read.format("remote_landing").load()
    rows = {r["OP_CARRIER"]: r for r in df.collect()}
    assert set(rows) == {"AA", "DL"}
    assert rows["DL"]["DEP_TIME"] is None and rows["AA"]["DEP_TIME"] == "905.0"
    # custom fixture via options: two CSV files → two partitions; the
    # non-CSV entry is skipped by the listing filter
    files = {
        "a.csv": "FL_DATE,OP_CARRIER\nd1,XX\n",
        "b.csv": "FL_DATE,OP_CARRIER\nd2,YY\nd3,ZZ\n",
        "w.json": "{}",
    }
    df2 = (
        spark.read.format("remote_landing")
        .option("files_json", json.dumps(files))
        .load()
    )
    assert df2.rdd.getNumPartitions() == 2  # one partition per remote file
    got = {(r["FL_DATE"], r["OP_CARRIER"]) for r in df2.collect()}
    assert got == {("d1", "XX"), ("d2", "YY"), ("d3", "ZZ")}
    # missing header columns arrive as nulls under name binding
    assert all(r["ORIGIN"] is None for r in df2.collect())


def test_remote_landing_stream_reader_offsets():
    import json

    from pyspark.sql import types as T

    from airline_data_pipeline_spark.io.datasource import (
        _RemoteLandingStreamReader,
    )

    schema = T.StructType(
        [T.StructField("FL_DATE", T.StringType()), T.StructField("OP_CARRIER", T.StringType())]
    )
    files = {"a.csv": "FL_DATE,OP_CARRIER\nd1,XX\n"}
    reader = _RemoteLandingStreamReader(
        schema, {"files_json": json.dumps(files)}
    )
    start = reader.initialOffset()
    rows, end = reader.read(start)
    assert list(rows) == [("d1", "XX")] and end == {"files": ["a.csv"]}
    # nothing new → empty batch, offset unchanged
    rows2, end2 = reader.read(end)
    assert list(rows2) == [] and end2 == end
    # a new file between triggers forms the next batch
    files["b.csv"] = "FL_DATE,OP_CARRIER\nd2,YY\n"
    reader2 = _RemoteLandingStreamReader(
        schema, {"files_json": json.dumps(files)}
    )
    rows3, end3 = reader2.read(end)
    assert list(rows3) == [("d2", "YY")] and end3 == {"files": ["a.csv", "b.csv"]}
    # checkpoint replay re-reads exactly the delta
    assert list(reader2.readBetweenOffsets(end, end3)) == [("d2", "YY")]


def test_salted_agg_matches_plain_agg(spark):
    # 90% of rows share one hot key
    rows = [(("hot" if i % 10 else f"k{i}"), float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "key string, x double")
    plain = {
        (r["key"]): (r["n"], r["total"])
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("total"))
        .collect()
    }
    salted = {
        (r["key"]): (r["n"], r["total"])
        for r in salted_agg(
            df,
            ["key"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "total": (F.sum("x"), F.sum("total")),
            },
            num_salts=8,
        ).collect()
    }
    assert salted == plain


# ---------------------------------------------------------------------------
# ts normalization: one canonical type under every parquet encoding
# ---------------------------------------------------------------------------
def test_table_normalizes_ts_encodings(spark, tmp_path):
    """Regression for the round-3 TIMESTAMP_NTZ breakage: the driver's
    events.parquet has shipped both TIMESTAMP(NANOS) (read as long under
    nanosAsLong) and timestamp[us] tz-naive (read as TIMESTAMP_NTZ under
    Spark 4 defaults). `table()` must yield session-TZ TIMESTAMP with
    identical values for both."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from airline_data_pipeline_spark.io.readers import table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    arr_us = pa.array(micros, type=pa.timestamp("us"))
    arr_ns = pa.array([m * 1000 for m in micros], type=pa.timestamp("ns"))
    for enc, arr in [("us", arr_us), ("ns", arr_ns)]:
        d = tmp_path / enc
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2]), "ts": arr}),
            str(d / "events.parquet"),
            use_deprecated_int96_timestamps=False,
            coerce_timestamps=None,
        )
    out = {}
    for enc in ("us", "ns"):
        df = table(spark, str(tmp_path / enc), "events")
        ts_type = df.schema["ts"].dataType
        assert isinstance(ts_type, T.TimestampType), f"{enc}: got {ts_type}"
        out[enc] = sorted(r["ts"] for r in df.select("ts").collect())
    assert out["us"] == out["ns"]
    # the driver's real testdata also comes out canonical
    real = table(spark, require_sf(SF_SMOKE), "events")
    assert isinstance(real.schema["ts"].dataType, T.TimestampType)


def test_table_relation_cache_is_per_session_and_path(spark):
    """The analyzed-relation cache must return the same plan for the
    same (session, dir, table) and distinct plans across dirs; the cache
    lives on the session object, so a `newSession()` sibling (same
    applicationId, different session state) gets its own relations and a
    dropped session — cache, DataFrames and all — is actually freed by
    the cyclic GC (regression: ADVICE r5, a rooted weak-keyed dict whose
    values reference the key can never drop an entry)."""
    import gc
    import weakref

    from airline_data_pipeline_spark.io.readers import _CACHE_ATTR, table

    smoke, oracle = require_sf(SF_SMOKE), require_sf(SF_ORACLE)
    a1 = table(spark, smoke, "orders")
    a2 = table(spark, smoke, "orders")
    b = table(spark, oracle, "orders")
    assert a1 is a2  # cache hit
    assert a1 is not b  # different sf_dir -> different relation
    assert (smoke, "orders") in getattr(spark, _CACHE_ATTR)
    assert a1.count() != b.count()  # plans really point at different data
    # a newSession() sibling shares the applicationId but must NOT share
    # cached relations (they are bound to the original session state)
    sibling = spark.newSession()
    s1 = table(sibling, smoke, "orders")
    assert s1 is not a1
    assert getattr(sibling, _CACHE_ATTR)[(smoke, "orders")] is s1
    # Dropping the sibling must free the whole session+cache cycle — the
    # weakref dying proves nothing rooted (module global, harness, ...)
    # still pins the session or its cached relations. One wrinkle:
    # pyspark's own SparkSession.__init__ monkey-patches RDD.toDF with a
    # closure over the newest session (pyspark/sql/session.py,
    # _monkey_patch_RDD), pinning the MOST RECENT session on the rooted
    # RDD class regardless of what we do — so displace that patch with a
    # fresh throwaway session before asserting ours is collectible.
    ref = weakref.ref(sibling)
    del sibling, s1
    spark.newSession()
    gc.collect()
    assert ref() is None, "dropped session still pinned by the table cache"


# ---------------------------------------------------------------------------
# partitioned warehouse write + partition pruning (the serving-path claim)
# ---------------------------------------------------------------------------
def test_partitioned_write_prunes_scan(spark, tmp_path):
    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.io.writers import write_parquet

    orders = table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "order_month", F.date_format(F.col("o_orderdate"), "yyyy-MM")
    )
    path = str(tmp_path / "orders_by_month")
    write_parquet(orders, path, partition_by=["order_month"])

    back = spark.read.parquet(path)
    one_month = back.filter(F.col("order_month") == "1995-03")
    plan = one_month._jdf.queryExecution().executedPlan().toString()
    # the month predicate must land in PartitionFilters (directory
    # pruning — no data files outside 1995-03 are opened), NOT in
    # PushedFilters (row-group filtering after opening every file)
    assert "PartitionFilters: [" in plan
    part_filters = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "order_month" in part_filters
    # and the pruned read returns exactly the month's rows
    expected = orders.filter(F.col("order_month") == "1995-03").count()
    assert one_month.count() == expected > 0


# ---------------------------------------------------------------------------
# JDBC source/sink (S6) against the Derby engine bundled with pyspark —
# the reference's warehouse load (`dags/flight_data_pipeline.py:100-122`)
# exercised offline: parallel batched writes, plain + partitioned reads
# ---------------------------------------------------------------------------
def test_jdbc_derby_roundtrip(spark, tmp_path):
    from airline_data_pipeline_spark.io.readers import read_jdbc
    from airline_data_pipeline_spark.io.writers import write_jdbc

    # keep derby.log out of the repo CWD (must be set before Derby boots)
    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/warehouse;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    rows = [(1, "AA", 78.25), (2, "DL", 81.5), (3, "UA", 64.0), (4, "WN", 90.1)]
    df = spark.createDataFrame(rows, "flight_id long, carrier string, on_time double")
    write_jdbc(df, url, "flight_metrics", mode="overwrite", properties=props)

    back = read_jdbc(spark, url, "flight_metrics", properties=props)
    got = sorted((r.flight_id, r.carrier, r.on_time) for r in back.collect())
    assert got == rows

    # partitioned parallel read on the numeric key fans the scan out
    part = read_jdbc(
        spark, url, "flight_metrics", properties=props,
        partition_column="flight_id", num_partitions=2,
        lower_bound=1, upper_bound=5,
    )
    assert part.rdd.getNumPartitions() == 2
    assert sorted((r.flight_id, r.carrier, r.on_time) for r in part.collect()) == rows

    # append mode grows, overwrite resets
    write_jdbc(df, url, "flight_metrics", mode="append", properties=props)
    assert read_jdbc(spark, url, "flight_metrics", properties=props).count() == 8
    write_jdbc(df, url, "flight_metrics", mode="overwrite", properties=props)
    assert read_jdbc(spark, url, "flight_metrics", properties=props).count() == 4


# ---------------------------------------------------------------------------
# table-maintenance writers: range clustering (data skipping) + compaction
# ---------------------------------------------------------------------------
def test_clustered_write_yields_near_disjoint_file_ranges(spark, tmp_path):
    """write_parquet_clustered must produce files whose footer min/max
    ranges on the cluster key are (near-)disjoint — the property any
    engine's stats-based file/row-group skipping needs. A plain write
    of shuffled data has every file spanning the whole key range."""
    import pyarrow.parquet as pq

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.io.writers import write_parquet_clustered

    orders = table(spark, require_sf(SF_SMOKE), "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    path = str(tmp_path / "clustered")
    write_parquet_clustered(orders, path, ["o_orderkey"], num_files=8)

    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col = md.row_group(0).column(0)
        assert col.path_in_schema == "o_orderkey"
        mins = [md.row_group(g).column(0).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(0).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 8
    # sorted by min, each file's range must not overlap the next one's
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},{hi2})"
    # and the clustered copy is the same data
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # a range predicate on the cluster key now only MATCHES a subset of
    # files' [min,max] — the skipping any stats-aware reader performs
    lo, hi = ranges[0][1], ranges[1][1]  # spans ~1 file boundary
    touched = [r for r in ranges if not (r[1] < lo or r[0] > hi)]
    assert len(touched) <= 3


def test_testdata_encoding_check_rejects_empty_dir(tmp_path):
    """Regression (ADVICE r5): a mistyped/empty sf_dir must fail the
    encoding guard loudly, not pass vacuously with zero tables checked."""
    from airline_data_pipeline_spark.io.selfcheck import check_testdata_encodings

    with pytest.raises(AssertionError, match="no tables"):
        check_testdata_encodings(str(tmp_path))


def test_remote_landing_datasource_writer_two_phase_commit(spark, tmp_path):
    """Python Data Source WRITE path: partitions stage privately, commit
    flips visibility atomically (_SUCCESS only after every task), and
    the round-trip preserves rows. Overwrite replaces prior exports."""
    from airline_data_pipeline_spark.io.datasource import RemoteLandingDataSource

    spark.dataSource.register(RemoteLandingDataSource)
    dest = str(tmp_path / "export")
    os.makedirs(dest)
    df = spark.createDataFrame(
        [("d1", "AA"), ("d2", "DL"), ("d3", None)],
        "FL_DATE string, OP_CARRIER string",
    ).repartition(2)
    df.write.format("remote_landing").option("path", dest).mode("append").save()
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert not os.path.exists(os.path.join(dest, "_staged"))
    back = spark.read.option("header", True).csv(dest)
    got = {(r["FL_DATE"], r["OP_CARRIER"]) for r in back.collect()}
    assert got == {("d1", "AA"), ("d2", "DL"), ("d3", None)}
    # a SECOND append must add to the earlier export, not clobber its
    # part files (destination names carry the staged uuid, so two jobs'
    # part-00000 never collide)
    first_parts = {f for f in os.listdir(dest) if f.endswith(".csv")}
    df_more = spark.createDataFrame(
        [("d4", "UA")], "FL_DATE string, OP_CARRIER string"
    )
    df_more.write.format("remote_landing").option("path", dest).mode("append").save()
    # file-level proof, not just row-level: every first-job file is
    # still on disk (uuid names — no silent clobber) and the second
    # job added at least one new file of its own
    second_parts = {f for f in os.listdir(dest) if f.endswith(".csv")}
    assert first_parts < second_parts, (first_parts, second_parts)
    back_both = spark.read.option("header", True).csv(dest)
    assert {(r["FL_DATE"], r["OP_CARRIER"]) for r in back_both.collect()} == {
        ("d1", "AA"),
        ("d2", "DL"),
        ("d3", None),
        ("d4", "UA"),
    }
    # overwrite drops the previous export's files
    df2 = spark.createDataFrame([("d9", "WN")], "FL_DATE string, OP_CARRIER string")
    df2.write.format("remote_landing").option("path", dest).mode("overwrite").save()
    back2 = spark.read.option("header", True).csv(dest)
    assert {(r["FL_DATE"], r["OP_CARRIER"]) for r in back2.collect()} == {("d9", "WN")}


def test_bucketed_write_prunes_buckets_on_equality(spark, tmp_path):
    """write_bucketed's second contract (beyond the zero-exchange join
    asserted in tests/test_plans): an EQUALITY predicate on the bucket
    column prunes the scan to a single bucket — 'SelectedBucketsCount:
    1 out of 8' — because the bucket id is a pure function of the key.
    At 100 TB this is the point-lookup path: 1/n_buckets of the table
    read, no index needed."""
    import shutil

    from airline_data_pipeline_spark.io.readers import table
    from airline_data_pipeline_spark.io.writers import write_bucketed

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "bucketed_orders")
    try:
        o = table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(
            o, "graft_test_bucket_prune", ["o_orderkey"], 8,
            sort_cols=["o_orderkey"], path=root,
        )
        # autoBucketedScan un-buckets a scan that avoids no exchange,
        # which also forfeits bucket pruning — a point lookup wants it
        # off (the production pattern: disable for lookup-style reads)
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        got = spark.table("graft_test_bucket_prune").filter(
            "o_orderkey = 42"
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        # and the pruned read still returns the right rows
        want = [r["o_totalprice"] for r in o.filter("o_orderkey = 42").collect()]
        assert [r["o_totalprice"] for r in got.collect()] == want
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        spark.sql("DROP TABLE IF EXISTS graft_test_bucket_prune")
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# XML sink + scan (S1/S4 sibling, built into Spark 4) and binaryFile scan
# ---------------------------------------------------------------------------
def test_xml_roundtrip_escapes_every_entity(spark, tmp_path):
    """Values containing every markup-significant character — plus a
    newline and non-ASCII — must survive the writer's entity escaping
    and the scan's un-escaping byte-identically."""
    from pyspark.sql import types as T

    from airline_data_pipeline_spark.io.readers import read_xml
    from airline_data_pipeline_spark.io.writers import write_xml_export

    rows = [
        (1, '<tag attr="x">&amp;</tag>'),
        (2, "apostrophe ' and quote \" and\nnewline"),
        (3, "café ünïcode ✓"),
        (4, None),
        # surrounding whitespace: Spark's scan default TRIMS these
        # (`ignoreSurroundingSpaces=true`, measured) — read_xml pins
        # the option false so the round-trip is byte-faithful
        (5, "  padded  "),
        (6, "\ttab-framed\t"),
        (7, "a\r\nb"),
    ]
    df = spark.createDataFrame(rows, "id long, v string")
    path = str(tmp_path / "xml")
    write_xml_export(df, path, row_tag="r", root_tag="rs")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    back = read_xml(spark, path, schema, row_tag="r")
    got = {r["id"]: r["v"] for r in back.collect()}
    assert got == {i: v for i, v in rows}


def test_xml_export_control_chars(spark, tmp_path):
    """XML 1.0 cannot represent control chars below U+0020 (except
    tab/LF/CR): the writer fails LOUDLY by default (measured — one
    0x01 byte fails the export job), and sanitize_control_chars=True
    opts into U+FFFD replacement instead."""
    from pyspark.sql import types as T

    from airline_data_pipeline_spark.io.readers import read_xml
    from airline_data_pipeline_spark.io.writers import write_xml_export

    df = spark.createDataFrame([(1, "x\x01y"), (2, "ok\ttab")], "id long, v string")
    with pytest.raises(Exception, match="(?i)invalid|abort|task"):
        write_xml_export(df, str(tmp_path / "boom"), row_tag="r")
    path = str(tmp_path / "clean")
    write_xml_export(df, path, row_tag="r", sanitize_control_chars=True)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    got = {r["id"]: r["v"] for r in read_xml(spark, path, schema, row_tag="r").collect()}
    # 0x01 replaced with U+FFFD; XML-legal tab preserved untouched
    assert got == {1: "x�y", 2: "ok\ttab"}


def test_read_binary_files_glob_and_content(spark, tmp_path):
    """pathGlobFilter prunes non-matching files at listing time and the
    content column carries the exact file bytes."""
    from airline_data_pipeline_spark.io.readers import read_binary_files

    payload = bytes(range(256))
    (tmp_path / "a.bin").write_bytes(payload)
    (tmp_path / "skip.txt").write_bytes(b"not media")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["path"].endswith("a.bin")
    assert rows[0]["length"] == 256
    assert bytes(rows[0]["content"]) == payload


# ---------------------------------------------------------------------------
# binary_files Python Data Source sink (write side of binaryFile)
# ---------------------------------------------------------------------------
def _register_binsink(spark):
    from airline_data_pipeline_spark.io.datasource import BinaryFilesDataSource

    spark.dataSource.register(BinaryFilesDataSource)


def test_binary_files_sink_roundtrip(spark, tmp_path):
    """Blobs written by the 2PC sink come back byte-identical through
    the binaryFile source, with a _SUCCESS marker after commit."""
    import os

    from airline_data_pipeline_spark.io.readers import read_binary_files

    _register_binsink(spark)
    payloads = {"a.bin": bytes(range(64)), "b.bin": b"\x00\xff" * 10}
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "file_name string, content binary",
    )
    dest = str(tmp_path / "blobs")
    df.write.format("binary_files").option("path", dest).mode("overwrite").save()
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    got = {
        r["path"].rsplit("/", 1)[-1]: bytes(r["content"])
        for r in read_binary_files(spark, dest, glob="*.bin").collect()
    }
    assert got == payloads


def test_binary_files_sink_refuses_clobber_and_dupes(spark, tmp_path):
    """Caller-chosen names get the safety Spark part-names provide for
    free: duplicate names within a job and append collisions with
    existing files both fail BEFORE any move."""
    import os

    import pyspark

    _register_binsink(spark)
    dest = str(tmp_path / "blobs")
    one = spark.createDataFrame(
        [("x.bin", bytearray(b"v1"))], "file_name string, content binary"
    )
    one.write.format("binary_files").option("path", dest).mode("overwrite").save()
    # append colliding with the committed x.bin must not clobber it
    with pytest.raises(Exception, match="clobber"):
        spark.createDataFrame(
            [("x.bin", bytearray(b"v2"))], "file_name string, content binary"
        ).write.format("binary_files").option("path", dest).mode("append").save()
    with open(os.path.join(dest, "x.bin"), "rb") as fh:
        assert fh.read() == b"v1"
    # duplicate names within one job fail the commit
    with pytest.raises(Exception, match="duplicate"):
        spark.createDataFrame(
            [("d.bin", bytearray(b"1")), ("d.bin", bytearray(b"2"))],
            "file_name string, content binary",
        ).repartition(2).write.format("binary_files").option("path", dest).mode(
            "append"
        ).save()
    assert not os.path.exists(os.path.join(dest, "d.bin"))
    # a failed job leaves no staging residue and no new files
    assert sorted(f for f in os.listdir(dest) if not f.startswith("_")) == ["x.bin"]


def test_binary_files_sink_rejects_bad_rows(spark, tmp_path):
    """NULL names/content and path-traversal names are caller bugs the
    write task rejects; the aborted job leaves the destination empty."""
    import os

    _register_binsink(spark)
    for rows in (
        [(None, bytearray(b"x"))],
        [("ok.bin", None)],
        [("../escape.bin", bytearray(b"x"))],
    ):
        dest = str(tmp_path / f"d{abs(hash(str(rows))) % 1000}")
        with pytest.raises(Exception):
            spark.createDataFrame(
                rows, "file_name string, content binary"
            ).write.format("binary_files").option("path", dest).mode("overwrite").save()
        assert not os.path.exists(os.path.join(dest, "_SUCCESS"))
        files = (
            [f for f in os.listdir(dest) if not f.startswith("_")]
            if os.path.exists(dest)
            else []
        )
        assert files == []


def test_binary_files_sink_overwrite_skips_foreign_subdirs(spark, tmp_path):
    """The overwrite sweep removes only plain files: the writer never
    creates subdirectories, so a directory in the destination (someone
    else's checkpoint, a nested dataset) is not writer-owned — before
    the fix os.remove raised IsADirectoryError and aborted the commit."""
    import os

    _register_binsink(spark)
    dest = tmp_path / "blobs"
    (dest / "nested").mkdir(parents=True)
    (dest / "nested" / "keep.txt").write_bytes(b"foreign")
    (dest / "stale.bin").write_bytes(b"old")
    spark.createDataFrame(
        [("a.bin", bytearray(b"new"))], "file_name string, content binary"
    ).write.format("binary_files").option("path", str(dest)).mode(
        "overwrite"
    ).save()
    assert (dest / "nested" / "keep.txt").read_bytes() == b"foreign"
    assert not (dest / "stale.bin").exists()
    assert (dest / "a.bin").read_bytes() == b"new"
    assert os.path.exists(dest / "_SUCCESS")


def test_binary_files_sink_rejects_dot_names(spark, tmp_path):
    """'.' and '..' survive os.path.basename unchanged, so the name
    validation must reject them explicitly — otherwise they fail later
    with an unrelated open() error inside the task."""
    import os

    _register_binsink(spark)
    for bad in (".", ".."):
        dest = str(tmp_path / f"d_{len(bad)}")
        with pytest.raises(Exception, match="illegal file name"):
            spark.createDataFrame(
                [(bad, bytearray(b"x"))], "file_name string, content binary"
            ).write.format("binary_files").option("path", dest).mode(
                "overwrite"
            ).save()
        assert not os.path.exists(os.path.join(dest, "_SUCCESS"))


def test_binary_files_sink_refuses_dir_name_collision(spark, tmp_path):
    """A staged blob named like a foreign SUBDIRECTORY must fail the
    commit atomically (before any move) — os.replace onto a directory
    would otherwise die mid-commit with half the blobs landed."""
    import os

    _register_binsink(spark)
    dest = tmp_path / "blobs"
    (dest / "taken.bin").mkdir(parents=True)
    for mode in ("overwrite", "append"):
        with pytest.raises(Exception, match="collide|clobber"):
            spark.createDataFrame(
                [("taken.bin", bytearray(b"x")), ("ok.bin", bytearray(b"y"))],
                "file_name string, content binary",
            ).write.format("binary_files").option("path", str(dest)).mode(
                mode
            ).save()
        # atomic refusal: the directory survives, nothing landed
        assert (dest / "taken.bin").is_dir()
        assert not (dest / "ok.bin").exists()
        assert not os.path.exists(dest / "_SUCCESS")


def test_read_meta_first_matches_spark_read(spark, tmp_path):
    """r15 opt: one-row meta stamps are read in-process (pyarrow) when
    local — same Row as the Spark read, None on a committed empty
    table, and Spark's own AnalysisException on a missing artifact
    (the error class load_pq_artifact matches on)."""
    from pyspark.errors import AnalysisException

    from airline_data_pipeline_spark.io.localrel import local_df
    from airline_data_pipeline_spark.io.readers import read_meta_first

    meta = str(tmp_path / "meta")
    local_df(
        spark, [(4, 8, 12345, 2)],
        "n_centroids int, dims int, n_rows bigint, fit_gen int",
    ).coalesce(1).write.mode("overwrite").parquet(meta)
    fast = read_meta_first(spark, meta)
    slow = spark.read.parquet(meta).first()
    assert fast.asDict() == slow.asDict()
    assert fast["n_rows"] == 12345 and fast.fit_gen == 2

    empty = str(tmp_path / "empty")
    local_df(
        spark, [(1,)], "x int"
    ).filter("x < 0").coalesce(1).write.mode("overwrite").parquet(empty)
    assert read_meta_first(spark, empty) is None
    assert spark.read.parquet(empty).first() is None

    with pytest.raises(AnalysisException):
        read_meta_first(spark, str(tmp_path / "nope"))


def test_read_small_rows_and_footer_count_match_spark(spark, tmp_path):
    """r15 opt: model-sized tables (centroids/codebooks) and ledger
    counts read locally — same rows (as a set; order is not part of
    either contract) and the exact Spark count, including multi-file
    layouts and array<double> columns."""
    from airline_data_pipeline_spark.io.readers import (
        count_parquet_rows,
        read_small_rows,
    )

    path = str(tmp_path / "centroids")
    df = spark.range(0, 17).selectExpr(
        "cast(id as int) as cell",
        "array(cast(id as double), cast(id * 2 as double)) as vec",
    )
    df.repartition(4).write.mode("overwrite").parquet(path)

    fast = read_small_rows(spark, path)
    slow = spark.read.parquet(path).collect()
    assert len(fast) == len(slow) == 17
    assert {tuple([r["cell"], tuple(r["vec"])]) for r in fast} == {
        tuple([r["cell"], tuple(r["vec"])]) for r in slow
    }
    assert count_parquet_rows(spark, path) == 17
    assert count_parquet_rows(spark, str(tmp_path / "centroids")) == \
        spark.read.parquet(path).count()
