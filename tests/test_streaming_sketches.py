"""Streaming sketch maintenance: cross-batch merge equals the batch
sketch of all data; HLL replay idempotence; CMS crash-replay no-op vs
lineage-reset refusal; staged-overwrite hidden leftovers invisible."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.sketch import cms_sketch, hll_sketch
from s3_log_parser_spark.streaming.sketches import (
    cms_counters,
    read_hll_table,
    start_cms_stream,
    start_hll_stream,
)


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("u"), (F.col("id") % 400).cast("string")).alias("k")
    )


def test_hll_stream_two_batches_equals_batch_sketch(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("hll_src"))
    tbl = str(tmp_path_factory.mktemp("hll_out")) + "/registers"
    ckpt = str(tmp_path_factory.mktemp("hll_ckpt"))

    _keys(spark, 0, 500).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    start_hll_stream(stream, tbl, ckpt).awaitTermination(120)

    # second micro-batch arrives later (overlapping keys)
    _keys(spark, 300, 900).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    start_hll_stream(stream, tbl, ckpt).awaitTermination(120)

    want = sorted(
        map(tuple, hll_sketch(_keys(spark, 0, 900), "k").collect())
    )
    got = sorted(map(tuple, read_hll_table(spark, tbl).collect()))
    assert got == want


def test_hll_fold_is_replay_idempotent(spark, tmp_path_factory):
    from s3_log_parser_spark.sources.maintenance import overwrite_staged
    from s3_log_parser_spark.streaming.sketches import hll_merge

    tbl = str(tmp_path_factory.mktemp("hll_replay")) + "/registers"
    batch = _keys(spark, 0, 500)
    sk = hll_sketch(batch, "k")
    overwrite_staged(sk, tbl)
    before = sorted(map(tuple, read_hll_table(spark, tbl).collect()))
    # replay: fold the same batch again — max-merge must be a no-op
    overwrite_staged(hll_merge(read_hll_table(spark, tbl), sk), tbl)
    after = sorted(map(tuple, read_hll_table(spark, tbl).collect()))
    assert after == before


def test_cms_stream_merges_across_batches(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("cms_src"))
    tbl = str(tmp_path_factory.mktemp("cms_out")) + "/counters"
    ckpt = str(tmp_path_factory.mktemp("cms_ckpt"))

    _keys(spark, 0, 500).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    start_cms_stream(stream, tbl, ckpt).awaitTermination(120)

    _keys(spark, 500, 900).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    start_cms_stream(stream, tbl, ckpt).awaitTermination(120)

    want = sorted(
        map(tuple, cms_sketch(_keys(spark, 0, 900), "k").collect())
    )
    got = sorted(map(tuple, cms_counters(spark, tbl).collect()))
    assert got == want


def test_cms_identical_replay_is_noop(spark, tmp_path_factory):
    """Fresh checkpoint over an UNCHANGED source re-delivers the same
    content as batch 0: the fingerprint matches, so the fold is
    skipped and the counters stay exact."""
    src = str(tmp_path_factory.mktemp("cms_src2"))
    tbl = str(tmp_path_factory.mktemp("cms_out2")) + "/counters"

    _keys(spark, 0, 500).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    start_cms_stream(
        stream, tbl, str(tmp_path_factory.mktemp("ck1"))
    ).awaitTermination(120)
    want = sorted(map(tuple, cms_counters(spark, tbl).collect()))

    stream = spark.readStream.schema("k string").parquet(src)
    start_cms_stream(
        stream, tbl, str(tmp_path_factory.mktemp("ck2"))
    ).awaitTermination(120)
    got = sorted(map(tuple, cms_counters(spark, tbl).collect()))
    assert got == want  # no double-count


def test_cms_lineage_reset_over_changed_source_raises(
    spark, tmp_path_factory
):
    """A fresh checkpoint over a CHANGED source delivers different
    content under an already-folded batch id — there is no safe
    merge, so the stream must fail loudly (an id-only high-water
    mark would have silently dropped the new keys)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path_factory.mktemp("cms_src3"))
    tbl = str(tmp_path_factory.mktemp("cms_out3")) + "/counters"

    _keys(spark, 0, 500).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    start_cms_stream(
        stream, tbl, str(tmp_path_factory.mktemp("ck1"))
    ).awaitTermination(120)
    before = sorted(map(tuple, cms_counters(spark, tbl).collect()))

    # new data arrives, then the checkpoint is lost: the fresh run
    # re-delivers old+new as batch 0
    _keys(spark, 500, 900).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    q = start_cms_stream(
        stream, tbl, str(tmp_path_factory.mktemp("ck2"))
    )
    with pytest.raises(StreamingQueryException, match="lineage reset"):
        q.awaitTermination(120)
    after = sorted(map(tuple, cms_counters(spark, tbl).collect()))
    assert after == before  # refused, not corrupted


def test_staged_overwrite_leaves_no_visible_siblings(
    spark, tmp_path_factory
):
    import os

    out = str(tmp_path_factory.mktemp("hll_swap"))
    tbl = out + "/registers"
    from s3_log_parser_spark.sources.maintenance import overwrite_staged

    overwrite_staged(hll_sketch(_keys(spark, 0, 100), "k"), tbl)
    overwrite_staged(hll_sketch(_keys(spark, 0, 200), "k"), tbl)
    visible = [e for e in os.listdir(out) if not e.startswith(".")]
    assert visible == ["registers"]
    # no hidden staged/old leftovers either on the happy path
    assert [e for e in os.listdir(out) if e.startswith(".")] == []
