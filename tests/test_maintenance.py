"""Parquet maintenance: small-file compaction (row-set-preserving,
idempotent, partition-values intact, a failed rewrite keeps the
partition)."""

import os

import pytest
from pyspark.sql import functions as F

from helpers import align_schema
from s3_log_parser_spark.sources.maintenance import (
    compact_table,
    partition_file_stats,
)


def _events(spark, n=4000):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 97).alias("user_id"),
        (F.col("id") % 3).cast("string").alias("day"),
    )


def _data_files(path):
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out += [
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def test_compact_partitioned_table_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "sink")
    df = _events(spark)
    # 16 files per day-partition — the post-salted-write shape
    df.repartition(16).write.partitionBy("day").parquet(path)
    before_files = len(_data_files(path))
    assert before_files >= 3 * 8  # many small files per partition

    res = compact_table(spark, path, target_bytes=128 << 20)
    assert res.partitions_seen == 3
    assert res.partitions_compacted == 3
    assert res.files_before == before_files
    assert res.files_after == 3  # one well-sized file per partition
    assert len(_data_files(path)) == 3

    back = align_schema(spark.read.parquet(path), df)
    assert back.exceptAll(df).isEmpty() and df.exceptAll(back).isEmpty()


def test_compact_is_idempotent_noop_second_run(spark, tmp_path):
    path = str(tmp_path / "sink")
    _events(spark, 1000).repartition(8).write.parquet(path)
    first = compact_table(spark, path)
    assert first.partitions_compacted == 1
    again = compact_table(spark, path)
    assert again.partitions_compacted == 0
    assert again.files_before == again.files_after == 0


def test_compact_skips_already_big_files(spark, tmp_path):
    path = str(tmp_path / "sink")
    _events(spark, 1000).coalesce(2).write.parquet(path)
    # mean file size is far above a 1-byte target: nothing qualifies
    res = compact_table(spark, path, target_bytes=1)
    assert res.partitions_compacted == 0
    assert len(_data_files(path)) == 2


def test_partition_file_stats_leaf_dirs(spark, tmp_path):
    path = str(tmp_path / "sink")
    _events(spark).repartition(4).write.partitionBy("day").parquet(path)
    stats = partition_file_stats(spark, path)
    assert [os.path.basename(s.path) for s in stats] == [
        "day=0", "day=1", "day=2",
    ]
    assert all(s.n_files == 4 and s.bytes > 0 for s in stats)


def test_compact_failed_write_keeps_partition_rows(
    spark, tmp_path, monkeypatch
):
    """a staged rewrite that fails inside its write job must leave the
    partition readable with every row and file it had, and no staged
    sibling behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "sink")
    df = _events(spark, 1000)
    df.repartition(8).write.partitionBy("day").parquet(path)
    files_before = sorted(_data_files(path))
    entries_before = sorted(os.listdir(path))

    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, target, *args, **kwargs):
        if "staged" in target:
            # an unknown codec fails inside the write job, after an
            # overwrite has cleared its target
            self.option("compression", "no-such-codec")
        return real_parquet(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(Exception):
        compact_table(spark, path)
    monkeypatch.undo()

    assert sorted(_data_files(path)) == files_before
    assert sorted(os.listdir(path)) == entries_before
    back = align_schema(spark.read.parquet(path), df)
    assert back.exceptAll(df).isEmpty() and df.exceptAll(back).isEmpty()
