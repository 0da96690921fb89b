"""Parquet table maintenance: staged overwrites and small-file
compaction.

Micro-batch ingestion (streaming/ingest.py), salted partitioned
writes (the router's sink layout) and per-batch index appends all emit
files-per-trigger; after a week a day-partition holds thousands of
KB-sized parquet files and every reader pays one footer fetch + open
per file (on an object store, one GET each). The fix is periodic
rewrite: N small files -> ceil(bytes/target) files, per partition,
leaving well-sized row groups behind.

At 100 TB the real deployment does this through the table format
(Iceberg ``rewrite_data_files`` — snapshot-isolated,
concurrent-reader-safe). This module is the plain-parquet form for a
deployment without a table format: single-writer (the pipeline's own
maintenance window), swap via two directory renames
(:func:`_staged_swap`), so a concurrent reader's worst case is a
transient read failure, never a double- or half-read of rows.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class PartitionStats:
    """One leaf partition directory (the table root if unpartitioned)."""

    path: str
    n_files: int
    bytes: int


@dataclass
class CompactResult:
    partitions_seen: int
    partitions_compacted: int
    files_before: int
    files_after: int
    bytes: int


def _fs_for(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path``'s scheme — the same API call works
    for file://, hdfs:// and s3a://, which is why maintenance goes
    through it instead of ``os`` (local-only)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def _staged_swap(
    spark: SparkSession, path: str, write: Callable[[str], None]
) -> None:
    """Replace the directory ``path`` with what ``write(staged)`` puts in
    a hidden sibling, via two renames:

        path -> .<name>.old.<id>     (readers lose the dir here)
        .<name>.staged.<id> -> path
        delete .<name>.old.<id>

    ``path`` is never deleted before its replacement is fully written:
    if ``write`` raises, the staged dir is removed and ``path`` stays
    as it was; if the swap-in rename fails, the old dir is renamed
    back. Staged and old dirs are dot-prefixed, so Spark partition
    discovery, DuckDB globs and :func:`partition_file_stats` skip them
    and a crash leftover is never read as a real partition."""
    fs, target = _fs_for(spark, path)
    JPath = spark._jvm.org.apache.hadoop.fs.Path
    run_id = uuid.uuid4().hex[:12]
    parent = target.getParent()
    base = target.getName()
    staged = JPath(parent, f".{base}.staged.{run_id}")
    old = JPath(parent, f".{base}.old.{run_id}")

    try:
        write(str(staged))
    except BaseException:
        fs.delete(staged, True)
        raise
    had_prev = fs.exists(target)
    if had_prev and not fs.rename(target, old):  # pragma: no cover
        fs.delete(staged, True)
        raise RuntimeError(f"staged overwrite: rename away failed: {path}")
    if not fs.rename(staged, target):  # pragma: no cover
        if had_prev:
            fs.rename(old, target)  # roll back
        fs.delete(staged, True)
        raise RuntimeError(f"staged overwrite: swap-in failed: {path}")
    if had_prev:
        fs.delete(old, True)


def overwrite_staged(df: DataFrame, path: str) -> None:
    """Crash-safe overwrite of a table that ``df`` may itself read:
    materialize (severing lineage BEFORE touching the table the plan
    reads from), then :func:`_staged_swap`. A plain
    ``mode("overwrite")`` deletes the target before its write job runs,
    so a failed write would lose the table. The caller picks the file
    count (e.g. ``coalesce(1)`` for sketch-sized tables)."""
    pinned = df.localCheckpoint(eager=True)
    _staged_swap(
        df.sparkSession,
        path,
        lambda staged: pinned.write.mode("overwrite").parquet(staged),
    )


def _is_data_file(name: str) -> bool:
    return name.endswith(".parquet") and not name.startswith((".", "_"))


def partition_file_stats(
    spark: SparkSession, path: str
) -> list[PartitionStats]:
    """Per-leaf-partition file count + bytes, via the Hadoop FS API.

    A "leaf" is a directory that directly contains data files — the
    table root for unpartitioned tables, the deepest ``k=v`` dirs for
    partitioned ones. Metadata files (``_SUCCESS``, dotfiles) are
    ignored everywhere.
    """
    fs, root = _fs_for(spark, path)
    out: list[PartitionStats] = []

    def walk(jdir) -> None:
        n = 0
        nbytes = 0
        for st in fs.listStatus(jdir):
            name = st.getPath().getName()
            if st.isDirectory():
                if not name.startswith((".", "_")):
                    walk(st.getPath())
            elif _is_data_file(name):
                n += 1
                nbytes += st.getLen()
        if n:
            # full qualified URI (scheme + authority), NOT toUri().getPath()
            # — stripping the scheme would make compact_table re-resolve
            # an s3a:// partition against the default filesystem
            out.append(
                PartitionStats(path=str(jdir), n_files=n, bytes=nbytes)
            )

    walk(root)
    return sorted(out, key=lambda p: p.path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> CompactResult:
    """Rewrite small-file partitions of a parquet table in place.

    A partition qualifies when it has ≥ ``min_files`` data files AND
    its mean file size is below ``target_bytes`` (already-compacted
    partitions are skipped, so the operation is idempotent — the
    second run is a stat-only no-op). Each qualifying partition is
    rewritten to ``ceil(bytes / target_bytes)`` files in a staged
    sibling directory and swapped in by :func:`_staged_swap`.

    The staged output's row count is verified against the original
    BEFORE the swap; a mismatch or a failed write raises and leaves
    the partition untouched. Partition directory names (``k=v``) are
    preserved, so partition-column values survive read-back unchanged.

    Single-writer by contract (run it in the pipeline's maintenance
    window, like the manifest-guarded sinks); snapshot-isolated
    concurrent compaction is the table format's job.
    """
    fs, _ = _fs_for(spark, path)
    JPath = spark._jvm.org.apache.hadoop.fs.Path

    stats = partition_file_stats(spark, path)
    res = CompactResult(
        partitions_seen=len(stats),
        partitions_compacted=0,
        files_before=0,
        files_after=0,
        bytes=0,
    )
    for p in stats:
        if p.n_files < min_files or p.bytes / p.n_files >= target_bytes:
            continue
        n_out = max(1, math.ceil(p.bytes / target_bytes))
        if n_out >= p.n_files:  # rewrite would not shrink the file count
            continue
        # read ONLY this leaf dir: no partition discovery, no schema
        # merge with sibling partitions — the rewrite is local to the
        # partition, which is what keeps one compaction task's input
        # bounded no matter how big the table is
        df = spark.read.parquet(p.path)
        n_rows = df.count()

        def write(staged: str) -> None:
            df.coalesce(n_out).write.mode("overwrite").parquet(staged)
            n_staged = spark.read.parquet(staged).count()
            if n_staged != n_rows:  # pragma: no cover - defensive
                raise RuntimeError(
                    f"compact_table: staged rewrite of {p.path} has "
                    f"{n_staged} rows, expected {n_rows}; aborting swap"
                )
            # drop the committer's _SUCCESS so the swapped-in dir
            # contains only data files, like the partition it replaces
            fs.delete(JPath(staged, "_SUCCESS"), False)

        _staged_swap(spark, p.path, write)

        res.partitions_compacted += 1
        res.files_before += p.n_files
        res.files_after += n_out
        res.bytes += p.bytes
    return res
