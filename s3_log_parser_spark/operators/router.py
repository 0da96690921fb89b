"""§2.7 predicate router: one encoded stream → per-sink tables + counts.

Generalizes the extract tool's runtime ``-g p|i|t|n`` group-by selector
(``/root/reference/src/s3extract.c:39-62,151-164``) into a declarative
multi-sink fan-out. Routes (north_star): by_tool, by_role, by_day,
rejects (parse_status != 'ok' — replaces the reference's silent
zeroing), plus the identity route ``all``.

Batch Spark has no single-pass multi-sink write, so the idiomatic
shape is: persist (or checkpoint to the slim table — which doubles as
the resume point) → N filtered writes, each preceded by its per-sink
counts, which come from one small collected cube. Each sink write
re-reads the cached/columnar slim data with column pruning, not the
raw text.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from .aggregate import group_count


@dataclass
class Route:
    name: str
    predicate: Callable[[DataFrame], Column]  # row filter
    group_key: tuple[str, ...]  # per-sink aggregate key
    partition_by: tuple[str, ...] = field(default_factory=tuple)


def default_routes() -> list[Route]:
    ok = lambda df: F.col("parse_status") == "ok"  # noqa: E731
    bad = lambda df: F.col("parse_status") != "ok"  # noqa: E731
    return [
        # graft of -g p (by podcast) → by tool (s3extract.c:152-154)
        Route("by_tool", ok, ("tool",), ("tool",)),
        # graft of -g i (by ip) → by role/conv (s3extract.c:155-157)
        Route("by_role", ok, ("role",), ("role",)),
        # -g t (by day, ts/86400) (s3extract.c:158-160)
        Route("by_day", ok, ("day_bucket",), ("day_bucket",)),
        # north_star addition: explicit rejects instead of zeroed rows
        Route("rejects", bad, ("parse_status",), ()),
    ]


def sink_layout(
    routed: DataFrame,
    partition_by: tuple[str, ...],
    n_vals: int | None = None,
) -> DataFrame:
    """The frame to write for one sink, laid out for its partitioned
    write. Every task emits one file per partition VALUE it sees
    (tasks × values files — 234 for an 8-task by_day write), and the
    driver-side commit of those files is pure constant overhead that
    eats the speedup on NARROW sessions. Two strategies, auto-picked by
    session width (ROUTER_WRITE_STRATEGY overrides: salt|coalesce|plain):

    - "salt": repartition on (partition cols, deterministic salt) —
      files ≈ salt_buckets × values regardless of input width (one file
      per value below 32 shuffle partitions). The canonical 100 TB shape
      (also what a cluster writing to an object store with per-file
      commit cost wants), and the right call on narrow local legs and
      streaming micro-batches, where a 300-file commit dwarfs the small
      shuffle.
    - "coalesce": narrow-dependency fan-in, NO shuffle — on wide local
      sessions the in-process commit of tasks × values files is
      measurably cheaper than shuffling the whole sink through the
      exchange (10.1 s salt vs 4.6 s coalesce(16) for a 10 M-row by-tool
      write at 32 cores; 320 local files commit in ~no time, while the
      salt path moves ~1.5 GB twice).

    ``n_vals`` (optional) is the sink's distinct partition-value
    count, counted on the driver by the caller; it lets the auto rule
    see the sink's cardinality. Choosing the layout submits no job.
    """
    if not partition_by:
        return routed
    spark = routed.sparkSession
    cores = spark.sparkContext.defaultParallelism
    strategy = os.environ.get("ROUTER_WRITE_STRATEGY", "auto")
    if strategy == "auto":
        # r7: the width rule alone mis-picks for HIGH-CARDINALITY
        # partition columns — a 116-value by-day sink under coalesce(16)
        # commits tasks × values ≈ 2k files (measured 13.7 s vs 7.0 s /
        # 908 files salted). When the caller knows the distinct value
        # count, pick salt once values exceed the core count: each
        # shuffle task then holds ~1 value, so files ≈ salt_buckets ×
        # values and parallelism is full; few-value sinks keep the
        # shuffle-free coalesce. Below 16 cores both branches salt.
        if n_vals is not None and n_vals > cores:
            strategy = "salt"
        else:
            strategy = "coalesce" if cores >= 16 else "salt"
    if strategy == "coalesce":
        return routed.coalesce(max(8, cores // 2))
    if strategy != "salt":
        return routed
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    s = max(1, nshuf // 16)
    # deterministic salt (spark_partition_id is retry-dependent: under
    # task/stage retries rows could land in different shuffle outputs)
    # — hash stable row columns
    salt_cols = [c for c in ("conv_id", "turn_idx") if c in routed.columns] or [
        c for c in routed.columns if c not in partition_by
    ][:2]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(s))
    # EXPLICIT partition count: an unnumbered repartition(cols) is fair
    # game for AQE partition coalescing, which shrinks the exchange to
    # ~advisory-size partitions (24 here) and starves the CPU-bound
    # parquet/zstd encode of write tasks (measured on the 10 M-row by_day
    # sink at 32 cores: 11.7 s unnumbered vs 4.8-5.8 s with the slot
    # count pinned; file count unchanged)
    return routed.repartition(nshuf, *[F.col(c) for c in partition_by], salt)


def fan_out(routes: list[Route], write_one: Callable[[Route], None]) -> None:
    """Run ``write_one`` for every route from a thread pool. Sinks are
    independent jobs, so submitting them concurrently lets the Spark
    scheduler fill cores across their scan/write barriers (threads share
    the SparkSession; each write blocks its own thread only). With all
    four in flight the scheduler interleaves their stages, so the
    scan/commit barriers of one sink hide behind the compute of the
    others (oversubscription just queues tasks)."""
    workers = int(os.environ.get("ROUTER_CONCURRENCY", "4"))
    with ThreadPoolExecutor(max_workers=max(1, workers)) as ex:
        for f in [ex.submit(write_one, r) for r in routes]:
            f.result()


def route_and_write(
    slim: DataFrame,
    catalog: Catalog,
    routes: list[Route] | None = None,
    mode: str = "overwrite",
    skip: Callable[[str], bool] | None = None,
    on_done: Callable[[str], None] | None = None,
    timings_out: dict[str, float] | None = None,
) -> dict[str, DataFrame]:
    """Fan the slim table out to sinks; return per-sink count frames.

    ``skip``/``on_done`` hook the lineage manifest for idempotent
    resume (plans/lineage.py). The caller is responsible for having
    persisted/materialized ``slim`` (the pipeline writes the slim table
    first and routes from the columnar re-read — cheaper than caching
    raw text at 100 TB, and it IS the checkpoint).
    """
    routes = routes if routes is not None else default_routes()

    # consolidated counts: ONE aggregate pass over slim computes the
    # (status × tool × role × day) base cube — a few thousand rows even
    # at 10 M turns — cached as a single partition and collected once.
    # The collected rows give each sink's partition-value count on the
    # driver (no layout job), and since a single-partition child
    # satisfies any groupBy, each sink's counts frame is one narrow task
    # over the cache (no exchange). Falls back per-route when a custom
    # route's predicate/key needs columns outside the base.
    base_cols = ["parse_status", "tool", "role", "day_bucket"]
    base = None
    base_rows: list = []
    if all(set(r.group_key) <= set(base_cols) for r in routes):
        base = (
            slim.groupBy(*base_cols)
            .agg(F.count("*").alias("_n"))
            .coalesce(1)
            .cache()
        )
        base_rows = base.collect()  # materializes the cache too

    def n_vals_for(r: Route) -> int | None:
        # same value set the write layout sees: all statuses, so the
        # count is a property of the slim table, not of the route
        if base is None or not set(r.partition_by) <= set(base_cols):
            return None
        return len({tuple(row[c] for c in r.partition_by) for row in base_rows})

    def counts_for(r: Route, routed) -> DataFrame:
        if base is not None:
            from pyspark.errors import AnalysisException

            try:
                filt = base.filter(r.predicate(base))
                if r.group_key:
                    return filt.groupBy(*r.group_key).agg(
                        F.sum("_n").cast("long").alias("count")
                    )
                return filt.agg(
                    F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("count")
                )
            except AnalysisException:  # predicate needs non-base columns
                pass
        if r.group_key:
            return group_count(routed, *r.group_key)
        return routed.agg(F.count("*").alias("count"))

    counts: dict[str, DataFrame] = {}

    def write_one(r: Route) -> None:
        import time as _time

        _t0 = _time.perf_counter()
        _write_one_inner(r)
        if timings_out is not None:
            # per-sink wall time of this thread's write job — sinks run
            # CONCURRENTLY, so these overlap and don't sum to the route
            # stage wall; they localize which sink regressed
            timings_out[r.name] = _time.perf_counter() - _t0

    def _write_one_inner(r: Route) -> None:
        routed = slim.filter(r.predicate(slim))
        counts[r.name] = counts_for(r, routed)
        stage = f"sink:{r.name}"
        if skip is None or not skip(stage):
            # counts first: the tiny one-task job runs while the cores
            # are idle after the cube, and no job trails the data write.
            # Counts frames are ≤ thousands of rows — one file.
            catalog.write(counts[r.name].coalesce(1), f"{r.name}_counts", mode=mode)
            w = sink_layout(routed, r.partition_by, n_vals_for(r))
            catalog.write(w, r.name, mode=mode, partition_by=r.partition_by)
            if on_done is not None:
                on_done(stage)

    # Scale-adaptive scan splits for the fan-out (r7, guide §6/§2.2):
    # each sink re-reads the slim checkpoint, and the session default
    # split size (64 MB) can leave routes × splits far below the task
    # slots — a 278 MB slim at 10 M rows yielded ~7 scan tasks per sink
    # on 32 cores (measured route leg 16.0 → 13.1 s with right-sized
    # splits). Derive the split size from the checkpoint's bytes so
    # that the four sinks together fill ~2× the slots; clamp to
    # [4 MB, session default] so a big slim (real cluster) keeps the
    # large sequential splits. ROUTER_SCAN_SPLIT_MB overrides. The
    # bytes come from the plan's statistics — for a file scan, the
    # file index's data bytes, on any Hadoop filesystem (file://,
    # s3a://, hdfs://) — with no storage-specific listing here.
    conf = slim.sparkSession.conf
    cur_mpb = None
    try:
        cur_mpb = int(conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        pass
    override = os.environ.get("ROUTER_SCAN_SPLIT_MB")
    new_mpb = None
    if override:
        new_mpb = int(override) << 20
    elif cur_mpb is not None:
        try:
            stats = slim._jdf.queryExecution().optimizedPlan().stats()
            total = int(str(stats.sizeInBytes()))
            if total:
                slots = slim.sparkSession.sparkContext.defaultParallelism
                target_splits = max(1, (2 * slots) // max(1, len(routes)))
                new_mpb = min(
                    cur_mpb, max(4 << 20, total // target_splits)
                )
        except Exception:
            new_mpb = None
    try:
        if new_mpb is not None:
            conf.set("spark.sql.files.maxPartitionBytes", str(new_mpb))
        fan_out(routes, write_one)
    finally:
        if new_mpb is not None and cur_mpb is not None:
            conf.set("spark.sql.files.maxPartitionBytes", str(cur_mpb))
    if base is not None:
        base.unpersist()
    # return lazy read-backs of the persisted counts tables — consuming
    # them costs a tiny scan, whereas returning the computed frames
    # would re-run the (now unpersisted) base aggregate on first use.
    # The known schema spares one schema-inference job per table.
    return {
        r.name: catalog.read(f"{r.name}_counts", schema=counts[r.name].schema)
        for r in routes
    }


def routed_union_equals_source(
    slim: DataFrame, catalog: Catalog, routes: list[Route] | None = None
) -> bool:
    """Correctness gate: disjoint-route union == source (set equality
    via exceptAll both directions — FIXTURES.md §5.3). by_tool/by_role/
    by_day overlap (same ok rows three ways); rejects ∪ by_tool == all.
    """
    a = catalog.read("by_tool").unionByName(catalog.read("rejects"))
    a = align_schema(a, slim)
    b = slim.select(*slim.columns)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def align_schema(df: DataFrame, like: DataFrame) -> DataFrame:
    """Reorder + cast columns to match ``like`` — partitioned-parquet
    read-back moves partition columns to the end and re-infers their
    types (e.g. a LONG day_bucket comes back INT), so set-equality
    checks must re-align first."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in like.schema.fields]
    )
