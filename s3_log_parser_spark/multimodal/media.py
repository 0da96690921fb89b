"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schema, partition behavior, UDF signature,
batch shape — is real and tested. The codec work is not: the package
depends on no image/audio library, so :func:`extract_media_metadata`
computes deterministic pseudo-metadata from the payload length (the
formulas the DuckDB oracle reproduces from ``octet_length``).

Scale posture: binary payloads never shuffle — decode/extract runs
map-side in the scan stage; metadata-only downstream ops select away
the blob column (column pruning drops it at the Parquet reader).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("content_hash", T.LongType(), True),
    ]
)


def extract_media_metadata(df: DataFrame) -> DataFrame:
    """mapInPandas media feature-extraction over
    ``(media_id, payload, media_type)`` rows: one Arrow batch in, one
    metadata frame out. Blob stays executor-local. The metadata is
    derived from the payload length ``len`` (oracle-reproducible):
    width = len % 640 + 16, height = (len*7) % 480 + 16, n_frames =
    len % 30 + 1, sample_rate = (len % 4 + 1) * 8000.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from s3_log_parser_spark.functions.hashes import djb2_py

        for pdf in batches:
            lens = pdf["payload"].map(lambda b: 0 if b is None else len(b))
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "byte_len": lens.astype("int64"),
                    "width": (lens % 640 + 16).astype("int32"),
                    "height": ((lens * 7) % 480 + 16).astype("int32"),
                    "n_frames": (lens % 30 + 1).astype("int32"),
                    "sample_rate": ((lens % 4 + 1) * 8000).astype("int32"),
                    "content_hash": pdf["payload"]
                    .map(lambda b: djb2_py(b))
                    .astype("int64"),
                }
            )
            yield out

    return df.mapInPandas(run, MEDIA_META_SCHEMA)


def frame_sample_plan(df: DataFrame, every_nth: int = 5) -> DataFrame:
    """video frame-sampling plumbing: one output row per sampled frame
    index (decode stubbed; the explode/partitioning shape is the real
    part — downstream per-frame UDFs consume this layout)."""
    return df.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_frames") - 1, F.lit(0)),
                F.lit(every_nth),
            )
        ).alias("frame_idx"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """test adapter: treat each document's utf-8 bytes as an opaque
    payload (images/audio aren't shippable in this sandbox; the binary
    column type and batch shapes are identical)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
    )
