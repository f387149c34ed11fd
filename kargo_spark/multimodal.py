"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partitioning,
``mapInPandas`` batch shape, byte-size-aware repartitioning — while the
actual media decode is STUBBED (image/audio libraries are not in this
container): ``decode_image_stub`` produces a deterministic fake
"decoded" feature row derived from the bytes, and raises
``NotImplementedError`` when ``strict=True`` to mark the integration
point for a real decoder (pillow / torchaudio / pyav).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha string, feat array<float>"
)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: binary payload = seeded bytes."""
    df = spark.range(n).withColumnRenamed("id", "media_id")
    h = F.abs(F.xxhash64("media_id", F.lit(seed)))
    # kind/fmt cycle on media_id (not the hash) so the multimodal_features
    # driver query is DuckDB-oracle-expressible end to end
    kind = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("media_id") % 3 + 1).cast("int"))
    fmt = F.element_at(F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")), (F.col("media_id") % 3 + 1).cast("int"))
    payload = F.repeat(F.sha2(F.concat(F.lit("media"), F.col("media_id").cast("string")), 256), 8)
    return df.select(
        "media_id",
        kind.alias("kind"),
        fmt.alias("fmt"),
        ((h % 512) + 32).cast("int").alias("width"),
        ((h % 256) + 32).cast("int").alias("height"),
        ((h % 60000)).cast("int").alias("duration_ms"),
        F.encode(payload, "utf-8").alias("data"),
    )


def decode_image_stub(data: bytes, strict: bool = False) -> np.ndarray:
    """STUB decode: a real implementation would ``PIL.Image.open`` here.

    Deterministic fake: 8 float features from the payload digest so the
    downstream plumbing (batching, schema, dedup on features) is testable.
    """
    if strict:
        raise NotImplementedError(
            "media decode requires an image/audio library not present in "
            "this container; plug PIL/torchaudio in here"
        )
    dg = hashlib.sha256(data or b"").digest()
    return np.frombuffer(dg[:32], dtype=np.uint8).astype(np.float32).reshape(8, 4).mean(axis=1)


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Batch shape: Arrow hands us columnar batches whose size is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``; combined with
    byte-size-aware repartition (``skew.size_bucketed(media, "data")``) no
    single batch carries an unbounded byte volume.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image_stub(d, strict=strict) for d in pdf["data"].values]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_bytes": pdf["data"].str.len().astype("int64"),
                    "sha": [hashlib.sha256(d or b"").hexdigest() for d in pdf["data"].values],
                    "feat": [list(map(float, f)) for f in feats],
                }
            )

    return media.select("media_id", "kind", "data").mapInPandas(run, FEATURES_SCHEMA)


def frame_sample_stub(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plumbing: 1 row per sampled frame timestamp
    (decode stubbed). Demonstrates the explode-shaped UDTF output."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))),
        )
        .select("media_id", "fmt", "frame_ts_ms")
    )
