"""Parquet table maintenance: small-file compaction + data-skipping
layout.

Two operational gaps every long-running sink hits that no query-side
operator fixes:

- **Small files.** Micro-batch ingestion (streaming/ingest.py), salted
  partitioned writes (router "salt" strategy), and per-batch index
  appends all emit files-per-trigger; after a week a day-partition
  holds thousands of KB-sized parquet files and every reader pays one
  footer fetch + open per file (on an object store, one GET each).
  The fix is periodic rewrite: N small files -> ceil(bytes/target)
  files, per partition, leaving well-sized row groups behind.

- **Stats-blind layout.** Parquet readers (Spark, DuckDB, Trino) skip
  whole files and row groups via footer min/max statistics — but only
  if the writer clustered values. A salted or round-robin write
  scatters every key across every file, so [min,max] of each file
  spans the whole domain and nothing is ever skipped. Range-partition
  + sort-within-partitions before the write makes file ranges narrow
  and pairwise disjoint, so a point/range predicate touches O(1)
  files instead of all of them.

At 100 TB the real deployment does both through the table format
(Iceberg ``rewrite_data_files`` / write-ordered tables — snapshot-
isolated, concurrent-reader-safe). This module is the plain-parquet
form for a deployment without a table format: single-writer (the
pipeline's own maintenance window), swap via two directory renames, so
a concurrent reader's worst case is a transient read failure, never a
double- or half-read of rows.
"""

from __future__ import annotations

import math
import os
import uuid
from dataclasses import dataclass

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


def overwrite_staged(df: DataFrame, path: str) -> None:
    """Crash-safe overwrite of a table that ``df`` may itself read:
    materialize (severing lineage BEFORE touching the table the plan
    reads from), write to a hidden sibling, swap via two renames. A
    plain ``mode("overwrite")`` deletes the target before its write
    job runs, so a failed write would lose the table; here the live
    table is never deleted before its replacement is fully committed.
    The caller picks the file count (e.g. ``coalesce(1)`` for
    sketch-sized tables)."""
    spark = df.sparkSession
    fs, target = _fs_for(spark, path)
    JPath = spark._jvm.org.apache.hadoop.fs.Path
    run_id = uuid.uuid4().hex[:12]
    parent = target.getParent()
    base = target.getName()
    staged = JPath(parent, f".{base}.staged.{run_id}")
    old = JPath(parent, f".{base}.old.{run_id}")

    df.localCheckpoint(eager=True).write.mode("overwrite").parquet(str(staged))
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
    rewritten to ``ceil(bytes / target_bytes)`` files via a staged
    sibling directory and swapped in with two renames:

        part -> part.compact-old.<id>   (readers lose the dir here)
        part.compact-staged.<id> -> part
        delete part.compact-old.<id>

    The staged output's row count is verified against the original
    BEFORE the swap; any mismatch raises and leaves the table
    untouched. Partition directory names (``k=v``) are preserved, so
    partition-column values survive read-back unchanged.

    Single-writer by contract (run it in the pipeline's maintenance
    window, like the manifest-guarded sinks); snapshot-isolated
    concurrent compaction is the table format's job — see
    :meth:`Catalog.compact <..sources.catalog.Catalog>` seam note.
    """
    fs, _ = _fs_for(spark, path)
    jvm = spark._jvm
    JPath = jvm.org.apache.hadoop.fs.Path

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
        run_id = uuid.uuid4().hex[:12]
        # staged/old live as HIDDEN siblings (dot-prefixed basename):
        # Spark partition discovery, DuckDB globs, and this module's
        # own walker all skip dot/underscore names, so a concurrent
        # reader or a crash-leftover can never be parsed as a real
        # partition (a visible `day=0.compact-staged.x` sibling would
        # double-read every row with a bogus partition value)
        parent, base = os.path.split(p.path.rstrip("/"))
        staged = f"{parent}/.{base}.compact-staged.{run_id}"
        old = f"{parent}/.{base}.compact-old.{run_id}"

        # read ONLY this leaf dir: no partition discovery, no schema
        # merge with sibling partitions — the rewrite is local to the
        # partition, which is what keeps one compaction task's input
        # bounded no matter how big the table is
        df = spark.read.parquet(p.path)
        n_rows = df.count()
        df.coalesce(n_out).write.mode("overwrite").parquet(staged)
        n_staged = spark.read.parquet(staged).count()
        if n_staged != n_rows:  # pragma: no cover - defensive
            fs.delete(JPath(staged), True)
            raise RuntimeError(
                f"compact_table: staged rewrite of {p.path} has "
                f"{n_staged} rows, expected {n_rows}; aborting swap"
            )
        # drop the committer's _SUCCESS so the swapped-in dir contains
        # only data files, like the partition it replaces
        fs.delete(JPath(os.path.join(staged, "_SUCCESS")), False)
        if not fs.rename(JPath(p.path), JPath(old)):  # pragma: no cover
            fs.delete(JPath(staged), True)
            raise RuntimeError(f"compact_table: rename away failed: {p.path}")
        if not fs.rename(JPath(staged), JPath(p.path)):  # pragma: no cover
            fs.rename(JPath(old), JPath(p.path))  # roll back
            fs.delete(JPath(staged), True)
            raise RuntimeError(f"compact_table: swap-in failed: {p.path}")
        fs.delete(JPath(old), True)

        res.partitions_compacted += 1
        res.files_before += p.n_files
        res.files_after += n_out
        res.bytes += p.bytes
    return res


def layout_for_skipping(
    df: DataFrame, *cols: str, num_files: int | None = None
) -> DataFrame:
    """Cluster ``df`` so a subsequent parquet write produces narrow,
    pairwise-disjoint per-file [min,max] ranges on ``cols`` — the
    precondition for file- and row-group-level skipping in every
    parquet reader.

    ``repartitionByRange`` computes split points from a reservoir
    sample (one extra sampling pass, cheap) and gives each output file
    a disjoint slice of the key domain; ``sortWithinPartitions`` then
    orders rows inside each file so row-group stats are narrow too and
    pages compress better (runs of equal/adjacent keys). Both steps
    are one exchange total; neither is a global sort on the driver.

    This is the parquet-branch equivalent of an Iceberg write-ordered
    table (``WRITE ORDERED BY``); z-order is the multi-column
    generalization when two predicates matter equally — for the
    single-dominant-predicate case (day, tool, conv_id) linear range
    layout skips strictly better.
    """
    by = [df[c] for c in cols]
    parted = (
        df.repartitionByRange(num_files, *by)
        if num_files
        else df.repartitionByRange(*by)
    )
    return parted.sortWithinPartitions(*by)


def file_column_ranges(path: str, column: str) -> list[tuple]:
    """Per-data-file (min, max) of ``column`` straight from parquet
    footer statistics (pyarrow, no Spark) — the observable a reader's
    skipping decision is made from. Returns one tuple per file, sorted
    by min. Used by tests and by operators wanting to VERIFY a layout
    claim instead of trusting it. Local paths only (``os.walk``): this
    is the verification helper, not part of the write path — remote
    tables verify on a downloaded sample."""
    import pyarrow.parquet as pq

    ranges = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for name in filenames:
            if not _is_data_file(name):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, name)).metadata
            schema_idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            if column not in schema_idx:
                continue
            i = schema_idx[column]
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                ranges.append((lo, hi))
    return sorted(ranges)


def overlap_pairs(ranges: list[tuple]) -> int:
    """Number of overlapping (min,max) range pairs — 0 for a perfect
    range layout; ~n²/2 for a scattered one. The single number that
    summarizes "will a point predicate touch one file or all of
    them"."""
    n = 0
    for i in range(len(ranges)):
        for j in range(i + 1, len(ranges)):
            if ranges[i][0] <= ranges[j][1] and ranges[j][0] <= ranges[i][1]:
                n += 1
    return n
