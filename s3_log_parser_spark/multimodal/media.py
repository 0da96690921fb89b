"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schema, partition behavior, UDF signature,
batch shape — is real and tested. The actual codec work is stubbed:
this container has no image/audio libraries, so :func:`decode_real`
raises ``NotImplementedError``. Without a decoder,
:func:`extract_media_metadata` computes deterministic pseudo-metadata
from the payload length (:func:`fake_meta_formulas`, the formulas the
DuckDB oracle reproduces from ``octet_length``). A PIL/ffmpeg codec
plugs in as ``extract_media_metadata(decoder=...)``.

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


def decode_real(payload: bytes, media_type: str) -> dict:  # pragma: no cover
    """Real codec hook — deliberately unimplemented in this container.

    DECODER CONTRACT (what a PIL/ffmpeg-backed implementation — or any
    callable passed as ``extract_media_metadata(decoder=...)`` — must
    satisfy; pinned by tests/test_multimodal.py's fake-codec contract
    test):

    - called once per non-NULL payload with ``(payload: bytes,
      media_type: str)``;
    - returns a mapping with any subset of the keys ``width``,
      ``height``, ``n_frames``, ``sample_rate`` (ints); missing keys
      become NULL in the output row (e.g. audio has no width);
    - raises to fail the task (corrupt-payload policy belongs inside
      the decoder — return ``{}`` to emit an all-NULL metadata row).
    """
    raise NotImplementedError(
        "media decode requires PIL/ffmpeg/soundfile, not present in this "
        "environment; pass decoder= (same contract) or use the fake path"
    )


def fake_meta_formulas(byte_len: int) -> tuple[int, int, int, int]:
    """deterministic pseudo-metadata from payload length (oracle-SQL
    reproducible: width = len % 640 + 16, height = (len*7) % 480 + 16,
    n_frames = len % 30 + 1, sample_rate = (len % 4 + 1) * 8000)."""
    return (
        byte_len % 640 + 16,
        (byte_len * 7) % 480 + 16,
        byte_len % 30 + 1,
        (byte_len % 4 + 1) * 8000,
    )


def extract_media_metadata(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    type_col: str = "media_type",
    decoder=None,
) -> DataFrame:
    """mapInPandas media feature-extraction: one Arrow batch in, one
    metadata frame out. Blob stays executor-local.

    ``decoder``: an injectable codec callable satisfying the
    :func:`decode_real` contract — the seam where PIL/ffmpeg plugs in
    (``decoder=decode_real`` is the real hook, which raises here).
    Without one, deterministic fake metadata is derived from payload
    length (oracle-reproducible).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from s3_log_parser_spark.functions.hashes import djb2_py

        for pdf in batches:
            lens = pdf[payload_col].map(lambda b: 0 if b is None else len(b))
            if decoder is not None:
                # real-codec path: one decoder call per non-NULL payload,
                # missing contract keys → NULL columns
                decoded = [
                    decoder(b, t) if b is not None else {}
                    for b, t in zip(pdf[payload_col], pdf[type_col])
                ]

                def col(k):
                    return pd.Series(
                        [d.get(k) for d in decoded], dtype="Int32"
                    )

                width, height = col("width"), col("height")
                n_frames, sample_rate = col("n_frames"), col("sample_rate")
            else:
                width = (lens % 640 + 16).astype("int32")
                height = ((lens * 7) % 480 + 16).astype("int32")
                n_frames = (lens % 30 + 1).astype("int32")
                sample_rate = ((lens % 4 + 1) * 8000).astype("int32")
            out = pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "media_type": pdf[type_col],
                    "byte_len": lens.astype("int64"),
                    "width": width,
                    "height": height,
                    "n_frames": n_frames,
                    "sample_rate": sample_rate,
                    "content_hash": pdf[payload_col]
                    .map(lambda b: djb2_py(b))
                    .astype("int64"),
                }
            )
            yield out

    return df.mapInPandas(run, MEDIA_META_SCHEMA)


def frame_sample_plan(
    df: DataFrame, every_nth: int = 5, id_col: str = "media_id"
) -> DataFrame:
    """video frame-sampling plumbing: one output row per sampled frame
    index (decode stubbed; the explode/partitioning shape is the real
    part — downstream per-frame UDFs consume this layout)."""
    meta = df
    return meta.select(
        id_col,
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
