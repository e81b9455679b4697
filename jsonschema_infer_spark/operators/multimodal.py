"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata structs —
the Spark-side contract (schema, partition sizing, Arrow batch shape, UDF
signatures) is real and tested; the actual codec work is stubbed behind
``NotImplementedError`` or a deterministic fake because no image/audio
libraries exist in this container (clearly marked below).

At 100 TB the load-bearing decisions are here, not in the codec:
- media rows are FAT: ``files.maxPartitionBytes`` must shrink (or the media
  column be read lazily via metadata-first pruning) so an Arrow batch of
  decoded frames fits executor memory;
- decode runs in ``mapInPandas`` (iterator form) so one task streams
  batches instead of materializing a partition;
- feature outputs are fixed-size arrays -> stable schema for downstream
  similarity ops (operators/similarity.py works on them unchanged).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_DIM = 64

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("payload_sha256", StringType()),
        StructField("payload_bytes", LongType()),
    ]
)


def synthesize_media_rows(n: int = 256, seed: int = 42) -> list:
    """Deterministic fake media rows (tuples in MEDIA_SCHEMA order).

    Payload bytes are drawn from the lowercase-ASCII range — stand-ins for
    real JPEG/PCM/MP4 content with the same opaque-binary plumbing, but
    byte-faithful through engines whose hash functions only accept text
    (DuckDB's sha256 escapes non-UTF8 bytes on the BLOB->VARCHAR cast,
    which would break the driver's oracle compare)."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/jpeg", "audio": "audio/wav", "video": "video/mp4"}
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        raw = rng.integers(0, 256, size=int(rng.integers(512, 4096)), dtype=np.uint8)
        payload = (raw % 26 + ord("a")).astype(np.uint8)
        rows.append(
            (
                i,
                kind,
                mimes[kind],
                int(rng.integers(64, 1920)) if kind != "audio" else None,
                int(rng.integers(64, 1080)) if kind != "audio" else None,
                int(rng.integers(500, 60000)) if kind != "image" else None,
                bytes(payload.tobytes()),
            )
        )
    return rows


def write_media_parquet(path: str, n: int = 256, seed: int = 42) -> str:
    """Materialize the synthetic media table to one parquet file (atomic
    rename), Spark-free — the driver's DuckDB oracle reads the same file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    rows = synthesize_media_rows(n, seed)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "media_id": pa.array(cols[0], pa.int64()),
            "kind": pa.array(cols[1], pa.string()),
            "mime": pa.array(cols[2], pa.string()),
            "width": pa.array(cols[3], pa.int32()),
            "height": pa.array(cols[4], pa.int32()),
            "duration_ms": pa.array(cols[5], pa.int32()),
            "payload": pa.array(cols[6], pa.binary()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


def decode_image(payload: bytes) -> "np.ndarray":
    """STUB: real implementation requires an image codec (PIL/opencv),
    not present in this container."""
    raise NotImplementedError(
        "image decode requires an image library (PIL/opencv); "
        "feature extraction below uses a deterministic fake instead"
    )


def _fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic fake 'embedding' of a payload: sha256-seeded values.
    Stands in for decode->model-forward; keeps the pipeline testable."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim).astype(np.float32)
    return v / np.linalg.norm(v)


def extract_features(df: DataFrame, batch_hint: int = 64) -> DataFrame:
    """mapInPandas feature extraction: streams Arrow batches, never holds a
    whole partition of payloads. The decode step is the deterministic fake
    (see decode_image for the real-codec boundary)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_feature(p).tolist() if p is not None else None
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "payload_sha256": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "payload_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                }
            )

    return df.mapInPandas(fn, FEATURES_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: which timestamps to decode per video —
    pure metadata math (no payload touched; at scale this runs on the
    metadata columns only, pruning the binary column from the scan)."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.sequence(
                F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms)
            ).alias("sample_ts_ms"),
        )
        .withColumn("n_frames", F.size("sample_ts_ms"))
    )
