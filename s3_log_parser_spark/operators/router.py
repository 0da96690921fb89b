"""§2.7 predicate router: one encoded stream → per-sink tables + counts.

Grafts the extract tool's fixed ``-g p|i|t|n`` group-by selector
(reference ``src/s3extract.c:39-62,151-164``) onto a fixed four-sink
fan-out: by_tool, by_role, by_day and rejects (parse_status != 'ok' —
replaces the reference's silent zeroing).

Batch Spark has no single-pass multi-sink write, so the idiomatic
shape is: persist (or checkpoint to the slim table — which doubles as
the resume point) → N filtered writes, each preceded by its per-sink
counts, which come from one small collected cube. Each sink write
re-reads the cached/columnar slim data with column pruning, not the
raw text.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog


@dataclass
class Route:
    name: str
    predicate: Column  # row filter
    group_key: tuple[str, ...]  # per-sink aggregate key
    partition_by: tuple[str, ...] = field(default_factory=tuple)


def default_routes() -> list[Route]:
    ok = F.col("parse_status") == "ok"
    bad = F.col("parse_status") != "ok"
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
    eats the speedup on NARROW sessions. Two strategies, picked by
    session width and sink cardinality:

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
    count, which the caller already holds; it lets the rule see the
    sink's cardinality. Choosing the layout submits no job.
    """
    if not partition_by:
        return routed
    spark = routed.sparkSession
    cores = spark.sparkContext.defaultParallelism
    # r7: the width rule alone mis-picks for HIGH-CARDINALITY partition
    # columns — a 116-value by-day sink under coalesce(16) commits
    # tasks × values ≈ 2k files (measured 13.7 s vs 7.0 s / 908 files
    # salted). When the caller knows the distinct value count, salt once
    # values exceed the core count: each shuffle task then holds ~1
    # value, so files ≈ salt_buckets × values and parallelism is full;
    # few-value sinks keep the shuffle-free coalesce. Below 16 cores
    # every sink salts.
    if cores >= 16 and (n_vals is None or n_vals <= cores):
        return routed.coalesce(max(8, cores // 2))
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
    with ThreadPoolExecutor(max_workers=len(routes)) as ex:
        for f in [ex.submit(write_one, r) for r in routes]:
            f.result()


def route_and_write(
    slim: DataFrame,
    catalog: Catalog,
    skip: Callable[[str], bool] | None = None,
    on_done: Callable[[str], None] | None = None,
) -> dict[str, DataFrame]:
    """Fan the slim table out to the four sinks; return per-sink count
    frames.

    ``skip``/``on_done`` hook the lineage manifest for idempotent
    resume (plans/lineage.py). The caller is responsible for having
    persisted/materialized ``slim`` (the pipeline writes the slim table
    first and routes from the columnar re-read — cheaper than caching
    raw text at 100 TB, and it IS the checkpoint). Scan splits are
    Spark's own ``maxSplitBytes`` sizing; the session conf is never
    touched.
    """
    routes = default_routes()

    # consolidated counts: ONE aggregate pass over slim computes the
    # (status × tool × role × day) base cube — a few thousand rows even
    # at 10 M turns — cached as a single partition and collected once.
    # The collected rows give each sink's partition-value count on the
    # driver (no layout job), and since a single-partition child
    # satisfies any groupBy, each sink's counts frame is one narrow task
    # over the cache (no exchange).
    base = (
        slim.groupBy("parse_status", "tool", "role", "day_bucket")
        .agg(F.count("*").alias("_n"))
        .coalesce(1)
        .cache()
    )
    base_rows = base.collect()  # materializes the cache too
    counts: dict[str, DataFrame] = {}

    def write_one(r: Route) -> None:
        counts[r.name] = (
            base.filter(r.predicate)
            .groupBy(*r.group_key)
            .agg(F.sum("_n").cast("long").alias("count"))
        )
        stage = f"sink:{r.name}"
        if skip is None or not skip(stage):
            # counts first: the tiny one-task job runs while the cores
            # are idle after the cube, and no job trails the data write.
            # Counts frames are ≤ thousands of rows — one file.
            catalog.write(counts[r.name].coalesce(1), f"{r.name}_counts")
            # same value set the write layout sees: all statuses, so the
            # count is a property of the slim table, not of the route
            n_vals = len({tuple(row[c] for c in r.partition_by) for row in base_rows})
            w = sink_layout(slim.filter(r.predicate), r.partition_by, n_vals)
            catalog.write(w, r.name, partition_by=r.partition_by)
            if on_done is not None:
                on_done(stage)

    fan_out(routes, write_one)
    base.unpersist()
    # return lazy read-backs of the persisted counts tables — consuming
    # them costs a tiny scan, whereas returning the computed frames
    # would re-run the (now unpersisted) base aggregate on first use.
    # The known schema spares one schema-inference job per table.
    return {
        r.name: catalog.read(f"{r.name}_counts", schema=counts[r.name].schema)
        for r in routes
    }


def routed_union_equals_source(slim: DataFrame, catalog: Catalog) -> bool:
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
