"""Streaming sketch maintenance — the continuous form of the
daily-rollup loop (``hll_sketch``/``cms_sketch`` → merge → persist).

Per micro-batch: build the batch's sketch (bounded rows from any batch
size), merge it into the persisted register/counter table, overwrite
the table. The persisted artifact stays a few KB forever, so "unique
users ever / this window" and "how hot is key X" are answered by
reading the sketch table — the stream never re-scans its own history.

Replay semantics differ by sketch, and that choice of merge operator
is the whole design:

- **HLL is replay-idempotent**: merge = per-bucket MAX, so a
  foreachBatch re-run of the same batch (crash between output commit
  and checkpoint commit) — or even a full fresh-checkpoint re-run over
  the same source — changes nothing. No dedup bookkeeping needed.
- **CMS is NOT**: merge = per-cell SUM, so a replayed batch would
  double-count. Batch IDs alone cannot guard this: they are only
  meaningful within one checkpoint lineage (a fresh checkpoint
  renumbers everything from 0, so an id-only high-water mark would
  silently DROP genuinely new data delivered as "batch 0"). The
  counter table therefore carries the high-water mark AND a content
  fingerprint (order-insensitive ``bit_xor(xxhash64(key))`` + row
  count) of the last folded batch as constant columns — committed in
  the SAME swap as the counters, so no crash can separate them: a
  re-delivered id is a no-op only if its content matches; a content
  mismatch raises loudly instead of silently under- or
  double-counting.

Table overwrites are staged (``sources.maintenance.overwrite_staged``):
write the merged sketch to a hidden sibling dir, then swap with two FS
renames (the same protocol as ``sources.maintenance.compact_table``).
A plain ``mode("overwrite")`` would delete the table at job START, so
a crash mid-write would destroy the whole accumulated history — the
one artifact this design promises never to rebuild from raw. The
crash window is now two metadata renames; hidden leftovers
(dot-prefixed) are invisible to readers and recoverable by hand. All paths go through the Hadoop
FileSystem API, so file://, hdfs:// and s3a:// behave identically
(an ``os.path`` check would treat every remote table as absent and
quietly reset it each batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import cms_merge, cms_sketch, hll_merge, hll_sketch
from ..sources.maintenance import _fs_for, overwrite_staged

_HLL_SCHEMA = "bucket int, r int"
# the CMS table carries its replay bookkeeping as constant columns
# (_hwm/_fp/_fn of the last folded batch) so counters and guard state
# commit in ONE staged swap — a sidecar meta table would reopen a
# crash window between the two writes where a replay double-folds
_CMS_SCHEMA = "row int, bucket int, n long, _hwm long, _fp long, _fn long"
_CMS_META_COLS = ("_hwm", "_fp", "_fn")


def _exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_for(spark, path)
    return fs.exists(jpath)


def read_hll_table(spark: SparkSession, path: str) -> DataFrame:
    if not _exists(spark, path):
        return spark.createDataFrame([], _HLL_SCHEMA)
    return spark.read.parquet(path)


def read_cms_table(spark: SparkSession, path: str) -> DataFrame:
    """Raw persisted CMS table INCLUDING the ``_hwm/_fp/_fn``
    bookkeeping columns; use :func:`cms_counters` for lookups."""
    if not _exists(spark, path):
        return spark.createDataFrame([], _CMS_SCHEMA)
    return spark.read.parquet(path)


def cms_counters(spark: SparkSession, path: str) -> DataFrame:
    """The (row, bucket, n) counter grid, ready for ``cms_lookup``."""
    return read_cms_table(spark, path).drop(*_CMS_META_COLS)


def start_hll_stream(
    keys_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "k",
    mode: str = "djb2",
) -> StreamingQuery:
    """Maintain a persisted HLL register table over a key stream,
    draining available input and stopping. Replay-safe without
    bookkeeping: max-merge is idempotent."""

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        sk = hll_sketch(batch, key_col, mode=mode)
        prev = read_hll_table(spark, table_path)
        overwrite_staged(hll_merge(prev, sk).coalesce(1), table_path)

    return (
        keys_stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _batch_fingerprint(batch: DataFrame, key_col: str) -> tuple[int, int]:
    """Order-insensitive content id of a batch: xor of 64-bit key
    hashes + row count. xor never overflows (ANSI-safe, unlike a sum)
    and is commutative, so partition order can't change it."""
    row = batch.agg(
        F.coalesce(
            F.expr(f"bit_xor(xxhash64({key_col}))"), F.lit(0)
        ).alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row["fp"]), int(row["n"])


def start_cms_stream(
    keys_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "k",
    mode: str = "djb2",
) -> StreamingQuery:
    """Maintain a persisted CMS counter table over a key stream,
    draining available input and stopping.

    Sum-merge double-counts on replay, so each fold records
    (batch_id, content fingerprint) in the ``_meta`` sidecar. A
    re-delivered batch_id with MATCHING content is the crash-replay
    case: skipped as a no-op. A re-delivered batch_id with DIFFERENT
    content means the checkpoint lineage was reset over a changed
    source — there is no safe merge (folding would double-count old
    keys; skipping would drop new ones), so it raises with the
    recovery options spelled out.
    """

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prev = read_cms_table(spark, table_path)
        head = prev.select(*_CMS_META_COLS).limit(1).collect()
        last = (
            (int(head[0]["_hwm"]), int(head[0]["_fp"]), int(head[0]["_fn"]))
            if head
            else None
        )
        if last is not None and batch_id <= last[0]:
            fp, n = _batch_fingerprint(batch, key_col)
            if batch_id == last[0] and (fp, n) == (last[1], last[2]):
                return  # crash-replay of the already-folded batch
            raise ValueError(
                f"cms stream: batch {batch_id} re-delivered with "
                f"different content (checkpoint lineage reset over a "
                f"changed source). Either restore the original "
                f"checkpoint, or start a NEW counter table for the new "
                f"lineage and cms_merge() the two tables offline."
            )
        sk = cms_sketch(batch, key_col, mode=mode)
        fp, n = _batch_fingerprint(batch, key_col)
        merged = (
            cms_merge(prev.drop(*_CMS_META_COLS), sk)
            .withColumn("_hwm", F.lit(batch_id).cast("long"))
            .withColumn("_fp", F.lit(fp).cast("long"))
            .withColumn("_fn", F.lit(n).cast("long"))
        )
        overwrite_staged(merged.coalesce(1), table_path)

    return (
        keys_stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
