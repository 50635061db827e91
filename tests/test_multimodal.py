"""Multimodal binary-column plumbing tests: Arrow batch shapes, schema,
determinism of the (stubbed) decode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airline_data_pipeline_spark.multimodal.binaryops import (
    MEDIA_SCHEMA,
    extract_features,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = []
    for i in range(60):
        payload = bytes([i % 7] * (100 + i))  # some identical payloads mod 7 prefix
        rows.append(
            (
                i,
                ["image", "audio", "video"][i % 3],
                payload,
                (64 + i, 64, 16000, 1000 + i, "fake"),
            )
        )
    # three exact duplicate payloads of media_id 0
    for j, i in enumerate([100, 101, 102]):
        rows.append((i, "image", bytes([0] * 100), (64, 64, 16000, 1000, "fake")))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_extract_features_schema_and_counts(media):
    feats = extract_features(media, dim=16)
    assert feats.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,n_bytes:bigint,"
        "content_hash:string,feature:array<float>>"
    )
    rows = feats.collect()
    assert len(rows) == media.count()
    assert all(len(r["feature"]) == 16 for r in rows)


def test_extract_features_deterministic(media):
    a = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    b = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert a == b


def test_same_payload_same_feature(media):
    feats = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert feats[100] == feats[101] == feats[102]


def test_jvm_side_hash_matches_python(media, spark):
    """sha2(payload) (JVM) equals hashlib.sha256 (Python/Arrow) — the
    dedup key and the feature content_hash agree across the boundary."""
    jvm = {
        r["media_id"]: r["h"]
        for r in media.select(
            "media_id", F.sha2(F.col("payload"), 256).alias("h")
        ).collect()
    }
    py = {r["media_id"]: r["content_hash"] for r in extract_features(media).collect()}
    assert jvm == py


def test_resize_images_updates_only_images(media):
    from airline_data_pipeline_spark.multimodal.binaryops import resize_images

    out = resize_images(media, 32, 32)
    assert out.schema == media.schema
    before = {r["media_id"]: r for r in media.collect()}
    after = {r["media_id"]: r for r in out.collect()}
    assert set(before) == set(after)
    for mid, r in after.items():
        b = before[mid]
        if b["kind"] == "image":
            assert (r["meta"]["width"], r["meta"]["height"]) == (32, 32)
            assert bytes(r["payload"]) != bytes(b["payload"])
        else:  # audio/video pass through bit-identically
            assert bytes(r["payload"]) == bytes(b["payload"])
            assert r["meta"] == b["meta"]
    # deterministic: same input → same resized bytes
    again = {r["media_id"]: bytes(r["payload"]) for r in resize_images(media, 32, 32).collect()}
    assert {m: bytes(r["payload"]) for m, r in after.items()} == again


def test_sample_frames_fanout_matches_durations(media):
    from airline_data_pipeline_spark.multimodal.binaryops import sample_frames

    out = sample_frames(media, every_ms=400).collect()
    vids = {r["media_id"]: r for r in media.collect() if r["kind"] == "video"}
    # every output row belongs to a video; per-video count = ceil(dur/400)
    per = {}
    for r in out:
        assert r["media_id"] in vids
        per.setdefault(r["media_id"], []).append((r["frame_idx"], r["ts_ms"]))
    import math

    for mid, v in vids.items():
        dur = v["meta"]["duration_ms"]
        expect = math.ceil(dur / 400)
        got = sorted(per.get(mid, []))
        assert len(got) == expect
        assert got == [(i, i * 400) for i in range(expect)]
    # frames are deterministic and distinct across timestamps
    f0 = [bytes(r["frame"]) for r in out if r["frame_idx"] == 0]
    assert len(set(f0)) == len(set(r["media_id"] for r in out))
