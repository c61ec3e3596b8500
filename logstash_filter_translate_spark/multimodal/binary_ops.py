"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / resize as Arrow-batched
operations over ``mapInPandas``.

The decode step is a deterministic stub, ``decode_image_stub``: it derives
a fake decode from the byte content, so features are reproducible and the
DuckDB oracle can check them (the synthetic media bytes are not real
images). Everything Spark-side — schema contracts, batch shapes, partition
sizing, UDF signatures — is real and tested; a real decoder replaces
``decode_image_stub`` and keeps its output contract.

Scale notes: media rows are wide; the batch size for mapInPandas must be
bounded by bytes not rows (spark.sql.execution.arrow.maxRecordsPerBatch is
set low in session.py; for multi-MB blobs repartition the input so a
partition is ≪ executor memory). Feature rows out are narrow — project the
binary away as early as possible so downstream stages never shuffle blobs.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content_sha1", T.StringType()),
        # sha256 as well: DuckDB's hash functions take VARCHAR only, so the
        # oracle-checked contract query compares sha256(utf8 text) — sha1 is
        # not available there
        T.StructField("content_sha256", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("thumb_width", T.IntegerType()),
        T.StructField("thumb_height", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

def decode_image_stub(content: bytes) -> dict:
    """Deterministic fake decode: derives 'pixels' from the byte content so
    downstream feature logic is testable without an image library."""
    h = hashlib.sha1(content).hexdigest()
    n = len(content)
    return {
        "sha1": h,
        "width": 16 + (n % 64),
        "height": 16 + ((n // 64) % 64),
        "mean_byte": (sum(content[:256]) / min(len(content), 256)) if n else 0.0,
    }


#: longest side of the thumbnail, in pixels
THUMB = 8
#: length of the feature vector (one sha1 nibble per element)
FEATURE_DIM = 16


def extract_image_features(media: DataFrame) -> DataFrame:
    """decode → resize(``THUMB`` thumbnail) → ``FEATURE_DIM`` feature
    vector, one Arrow batch at a time. Output is narrow (binary projected
    away)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                b = bytes(content)
                d = decode_image_stub(b)
                scale = max(d["width"], d["height"]) / THUMB or 1
                # deterministic fake feature: normalized sha1 nibbles
                feat = [
                    int(d["sha1"][i], 16) / 15.0 for i in range(FEATURE_DIM)
                ]
                rows.append(
                    {
                        "media_id": media_id,
                        "content_sha1": d["sha1"],
                        "content_sha256": hashlib.sha256(b).hexdigest(),
                        "n_bytes": len(b),
                        "thumb_width": max(1, int(d["width"] / scale)),
                        "thumb_height": max(1, int(d["height"] / scale)),
                        "mean_byte": float(d["mean_byte"]),
                        "feature": feat,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields],
            )

    return media.select("media_id", "content").mapInPandas(
        run, IMAGE_FEATURES_SCHEMA
    )


def synthetic_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table for tests/benchmarks."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        content = bytes((i * 31 + j) % 256 for j in range(128 + (i % 512)))
        rows.append(
            (
                i,
                kind,
                content,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64 if kind == "image" else None,
                48 if kind == "image" else None,
                3000 if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
