"""Multimodal columns: binary payloads + typed metadata (SURVEY.md §2.10).

Design for image/audio/video in a Spark table:

    media(media_id long, kind string, payload binary,
          meta struct<width:int, height:int, sample_rate:int,
                      duration_ms:int, codec:string>)

- payloads are **opaque bytes** in a `binary` column; Spark shuffles /
  stores them without interpreting;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  `mapInPandas` stages — bytes cross into Python once per batch, not
  per row;
- partitioning: payload tables are wide rows — size
  `spark.sql.files.maxPartitionBytes` so a partition holds O(100)
  payloads, and never groupBy a payload column (hash the id instead).

The image/audio codecs (PIL, ffmpeg, torchaudio…) are NOT in this
container, so the decode kernels are deterministic fakes behind
`_HAS_CODECS` — the Spark-side plumbing (schemas, batch iteration, UDF
signatures, partition behavior) is real and tested; swapping the fake
for a real codec changes only the inner function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

try:  # real codecs unavailable in this environment — keep the gate explicit
    import PIL.Image  # noqa: F401

    _HAS_CODECS = True
except ImportError:
    _HAS_CODECS = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _decode_and_featurize(
    payload: bytes, kind: str, dim: int, use_codecs: bool = False
) -> list[float]:
    """Decode + feature-extract one payload.

    With real codecs this is decode→resize→embed (or resample→fbank for
    audio, frame-sample→embed for video). The DEFAULT is a deterministic
    fake embedding derived from the payload bytes, so tests exercise
    real Arrow batch shapes end-to-end regardless of what happens to be
    importable in the environment; the real decode path is opt-in via
    ``use_codecs=True`` (and then requires the codec libraries).
    """
    if use_codecs:  # pragma: no cover - codecs not in this container
        if not _HAS_CODECS:
            raise ImportError("use_codecs=True requires PIL/ffmpeg installed")
        raise NotImplementedError(
            "real decode path: plug PIL/ffmpeg decoding in here"
        )
    digest = hashlib.sha256(payload).digest()
    return [
        (digest[(i * 4) % 32] + digest[(i * 4 + 1) % 32] / 256.0) / 256.0
        for i in range(dim)
    ]


def extract_features(
    media: DataFrame, dim: int = 16, use_codecs: bool = False
) -> DataFrame:
    """Arrow-batched decode/featurize over a media table.

    mapInPandas: each Python call receives a pandas batch (Arrow
    transfer), emits one feature row per payload. The 5-column input is
    pruned to the 3 needed columns *before* the Python boundary so
    payload bytes are the only heavy transfer. ``use_codecs`` opts into
    the real decode kernel (see `_decode_and_featurize`).
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "content_hash": pdf["payload"].map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                    "feature": [
                        _decode_and_featurize(p, k, dim, use_codecs)
                        for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )
            yield out

    return media.select("media_id", "kind", "payload").mapInPandas(
        featurize, schema=FEATURES_SCHEMA
    )


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def resize_images(
    media: DataFrame,
    target_w: int,
    target_h: int,
    use_codecs: bool = False,
) -> DataFrame:
    """Image resize as an Arrow-batched `mapInPandas` stage.

    Image rows get a re-encoded payload and updated meta dimensions;
    audio/video rows pass through untouched (one code path, no split/
    union — at scale a split+union re-reads or re-shuffles the payload
    table twice). With real codecs the kernel is decode→resize→encode;
    the default deterministic fake derives the new payload from
    sha256(payload) + the target geometry so batch shapes, schema, and
    the pass-through contract are testable without PIL.
    """
    if use_codecs and not _HAS_CODECS:  # pragma: no cover
        raise ImportError("use_codecs=True requires PIL installed")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            for i in pdf.index:
                if pdf.at[i, "kind"] != "image":
                    continue
                if use_codecs:  # pragma: no cover - real codec path
                    raise NotImplementedError(
                        "real resize: PIL.Image.open(BytesIO)...resize"
                    )
                seed = hashlib.sha256(
                    bytes(pdf.at[i, "payload"])
                    + f":{target_w}x{target_h}".encode()
                ).digest()
                # fake pixels: seed tiled to the target byte budget
                n = max(1, (target_w * target_h) // 64)
                out.at[i, "payload"] = (seed * ((n // 32) + 1))[:n]
                meta = dict(pdf.at[i, "meta"])
                meta["width"], meta["height"] = target_w, target_h
                out.at[i, "meta"] = meta
            yield out

    return media.mapInPandas(kernel, schema=MEDIA_SCHEMA)


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    use_codecs: bool = False,
) -> DataFrame:
    """Video frame sampling as a fan-out `mapInPandas` stage: one output
    row per sampled timestamp (0, every_ms, 2·every_ms, … < duration_ms)
    per video row; non-video rows emit nothing.

    With real codecs the kernel seeks/decodes each frame (ffmpeg); the
    deterministic fake derives frame bytes from sha256(payload, ts) so
    the fan-out shape — the part that matters to Spark (row explosion
    happens INSIDE the Python stage, not as a JVM explode of
    pre-materialized frames) — is real and tested.
    """
    if use_codecs and not _HAS_CODECS:  # pragma: no cover
        raise ImportError("use_codecs=True requires ffmpeg bindings")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["kind"] != "video":
                    continue
                duration = int(r["meta"]["duration_ms"] or 0)
                payload = bytes(r["payload"])
                for idx, ts in enumerate(range(0, duration, every_ms)):
                    if use_codecs:  # pragma: no cover - real codec path
                        raise NotImplementedError(
                            "real frame sampling: ffmpeg seek+decode"
                        )
                    frame = hashlib.sha256(
                        payload + f":frame:{ts}".encode()
                    ).digest()
                    rows.append((int(r["media_id"]), idx, ts, frame))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "ts_ms", "frame"]
            )

    return media.select("media_id", "kind", "payload", "meta").mapInPandas(
        kernel, schema=FRAMES_SCHEMA
    )
