"""Multimodal plumbing: schema, mapInPandas batch shapes, length-derived
metadata."""

import pytest

from s3_log_parser_spark.functions.hashes import djb2_py
from s3_log_parser_spark.multimodal.media import (
    MEDIA_META_SCHEMA,
    documents_as_media,
    extract_media_metadata,
    frame_sample_plan,
)


def fake_meta_formulas(byte_len: int) -> tuple[int, int, int, int]:
    """pure-Python reference of the length-derived metadata
    (width, height, n_frames, sample_rate)."""
    return (
        byte_len % 640 + 16,
        (byte_len * 7) % 480 + 16,
        byte_len % 30 + 1,
        (byte_len % 4 + 1) * 8000,
    )


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return documents_as_media(docs).cache()


def test_payload_is_binary(media):
    assert dict(media.dtypes)["payload"] == "binary"


def test_metadata_schema_and_formulas(spark, media):
    meta = extract_media_metadata(media)
    assert meta.schema == MEDIA_META_SCHEMA
    rows = meta.orderBy("media_id").limit(5).collect()
    src = {r["media_id"]: r for r in media.orderBy("media_id").limit(5).collect()}
    for r in rows:
        blob = bytes(src[r["media_id"]]["payload"])
        w, h, nf, sr = fake_meta_formulas(len(blob))
        assert (r["width"], r["height"], r["n_frames"], r["sample_rate"]) == (
            w, h, nf, sr,
        )
        assert r["byte_len"] == len(blob)
        assert r["content_hash"] == djb2_py(blob)


def test_row_conservation_across_partitions(spark, media):
    n = media.count()
    assert extract_media_metadata(media.repartition(7)).count() == n


def test_frame_sample_plan(spark, media):
    meta = extract_media_metadata(media)
    plan = frame_sample_plan(meta, every_nth=5)
    joined = plan.groupBy("media_id").count().join(meta, "media_id")
    for r in joined.collect():
        expected = (r["n_frames"] - 1) // 5 + 1
        assert r["count"] == expected
