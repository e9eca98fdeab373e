"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — binary payload column,
typed metadata struct, Arrow-batched ``mapInPandas`` with explicit
output schema, deterministic partitioning — while the actual codec step
is a stand-in: ``fake_decode_meta`` derives deterministic
pseudo-metadata from the payload bytes, so the pipeline shape (schemas,
batch iteration, explode of frame samples) is exercised end-to-end and
oracle-checkable. A real decoder (Pillow, librosa) replaces its body on
a cluster that ships one.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

META_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("fake_width", IntegerType(), True),
        StructField("fake_height", IntegerType(), True),
        StructField("fake_duration_ms", IntegerType(), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture: payload = the
    utf-8 encoded text (a deterministic stand-in for real bytes)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def fake_decode_meta(media: DataFrame) -> DataFrame:
    """Arrow-batched mapInPandas 'decode': deterministic pseudo-metadata
    from payload length. The batch shape (pandas DataFrame in/out, typed
    output schema) is exactly what a real decoder UDF uses — swap the
    body for PIL/librosa on a cluster that has them."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(lambda b: len(b) if b is not None else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n.astype("int64"),
                    "fake_width": (n % 640 + 1).astype("int32"),
                    "fake_height": (n % 480 + 1).astype("int32"),
                    "fake_duration_ms": (n * 40 % 60000).astype("int32"),
                }
            )

    # ship ONLY the columns the decoder reads (mapInPandas is opaque to
    # column pruning — guide §4.1). Deliberately NOT spread across
    # tasks here: each Python worker pays a pandas/pyarrow import on
    # first use, and with this stub's trivial per-row work a 32-task
    # spread cost 56 CPU-s of worker spin-up against 1.5 CPU-s of
    # decode (measured) — a real heavyweight decoder amortizes the
    # import and inherits parallelism from real-scale scan splits.
    src = media.select("media_id", "kind", "payload")
    return src.mapInPandas(decode, schema=META_SCHEMA)


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Deterministic frame sampling of video payloads: split the byte
    stream into n equal chunks, one row per sampled 'frame' (JVM-side
    substring on binary — no Python)."""
    vid = media.where(F.col("kind") == "video")
    total = F.length("payload")
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_no")
    chunk = (total / n_frames).cast("int")
    return (
        vid.select("media_id", "payload", idx)
        .select(
            "media_id",
            "frame_no",
            F.substring(
                F.col("payload"), (F.col("frame_no") * chunk + 1).cast("int"), chunk
            ).alias("frame_bytes"),
        )
        .withColumn("frame_md5", F.md5(F.col("frame_bytes")))
        .drop("frame_bytes")
    )
