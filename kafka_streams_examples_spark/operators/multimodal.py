"""Multimodal (image/audio/video) column plumbing for training pipelines.

Design: media payloads are opaque `binary` columns travelling next to typed
metadata (a struct with modality/mime/width/... fields). All Spark-side
plumbing — schemas, Arrow-batched UDF signatures, partition-size control —
is real and tested; the actual codec work is stubbed (the image/audio
libraries are not in this container) behind `decode_fn` hooks that raise
NotImplementedError unless a deterministic fake is injected.

Scale notes: media rows are orders of magnitude wider than text rows, so
`mapInPandas` (streaming Arrow batches, constant memory) is used instead of
`applyInPandas` (which materializes whole groups). Two memory levers when
blobs are large: `spark.sql.execution.arrow.maxRecordsPerBatch` caps rows
per Arrow batch (set it so rows × blob size fits the worker budget), and
`bound_partition_bytes` repartitions so each task's input stays within a
byte budget.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("modality", T.StringType()),      # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _default_decode(payload: bytes, meta: dict) -> list[float]:
    raise NotImplementedError(
        "media codecs are not available in this environment; inject a "
        "decode_fn (tests use a deterministic fake)")


def bound_partition_bytes(media: DataFrame,
                          target_bytes: int = 256 << 20) -> DataFrame:
    """Repartition so each task's AVERAGE payload bytes ~ target_bytes.

    This bounds the expected per-task input, not a hard worst case: a
    single row larger than target_bytes cannot be subdivided (neither can
    Arrow's maxRecordsPerBatch split one row), and round-robin placement
    only makes co-location of several huge blobs unlikely, not impossible.
    For heavy-tailed blob sizes, size target_bytes with headroom (e.g. 4x
    below the executor budget) and cap maxRecordsPerBatch so decoded
    batches stay small.

    The payload volume is measured first by one scalar aggregate over
    payload lengths (a full scan of the length column).
    """
    from pyspark.sql import functions as F
    total_bytes = media.agg(
        F.sum(F.coalesce(F.length("payload"), F.lit(0)))).first()[0] or 0
    parts = max(1, int(total_bytes / target_bytes) + 1)
    return media.repartition(parts)


def extract_features(media: DataFrame,
                     decode_fn: Callable[[bytes, dict], list[float]] = _default_decode,
                     ) -> DataFrame:
    """Decode/feature-extract media rows via Arrow-batched mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": [m["modality"] if m is not None else None for m in pdf["meta"]],
                "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                "feature": [
                    decode_fn(p, m) if p is not None else None
                    for p, m in zip(pdf["payload"], pdf["meta"])
                ],
            })
            yield out

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10,
                 decode_fn: Callable[[bytes, dict], list[bytes]] | None = None) -> DataFrame:
    """Sample every_n-th frame of video payloads → one row per frame.

    Spark-side shape: mapInPandas that EXPLODES rows (variable fan-out per
    input row) — the plumbing exercised by tests with a fake splitter.
    """
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ])

    def default_split(payload: bytes, meta: dict) -> list[bytes]:
        raise NotImplementedError("inject decode_fn to split frames")

    split = decode_fn or default_split

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                for i, fr in enumerate(split(payload, meta)):
                    if i % every_n == 0:
                        ids.append(mid); nos.append(i); frames.append(fr)
            yield pd.DataFrame({"media_id": ids, "frame_no": nos, "frame": frames})

    return media.mapInPandas(run, schema=out_schema)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents fixture: the
    utf-8 bytes of the text stand in for an opaque payload, with a typed
    metadata struct alongside — the real pipeline shape (binary + metadata)
    without needing codec libraries or binary fixtures."""
    modality = F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            modality.alias("modality"),
            F.lit("application/octet-stream").alias("mime"),
            F.lit(8).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            F.lit(4).cast("int").alias("n_frames"),
        ).alias("meta"))


def synthesize_media(spark, n: int = 32) -> DataFrame:
    """Deterministic fake media table for tests (no codec libs needed)."""
    rows = []
    for i in range(n):
        payload = bytes([(i * 7 + j) % 256 for j in range(128 + i)])
        rows.append((i, payload, ("image" if i % 2 == 0 else "audio",
                                  "application/octet-stream", 8, 8, 16000, 4)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def resize_media(media: DataFrame,
                 width: int, height: int,
                 resize_fn: Callable[[bytes, dict, int, int], bytes] | None = None,
                 ) -> DataFrame:
    """Resize image payloads (1 -> 1 binary transform + metadata update).

    Same constant-memory mapInPandas shape as extract_features; the codec
    is injected (a real pipeline passes a PIL/opencv hook — not present in
    this container, so the default raises and tests inject a deterministic
    byte-level fake). Output schema matches MEDIA_SCHEMA with the meta
    width/height rewritten to the target size.
    """
    def default_resize(payload: bytes, meta: dict, w: int, h: int) -> bytes:
        raise NotImplementedError("inject resize_fn (image libs unavailable)")

    fn = resize_fn or default_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            payloads = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                payloads.append(fn(payload, meta, width, height)
                                if payload is not None else None)
                m = dict(meta) if meta is not None else {}
                m["width"], m["height"] = width, height
                metas.append(m)
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads, "meta": metas})

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)
