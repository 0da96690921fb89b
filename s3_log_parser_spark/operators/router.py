"""§2.7 predicate router: one encoded stream → per-sink tables + counts.

Grafts the extract tool's fixed ``-g p|i|t|n`` group-by selector
(reference ``src/s3extract.c:39-62,151-164``) onto a fixed four-sink
fan-out: by_tool, by_role, by_day and rejects (parse_status != 'ok' —
replaces the reference's silent zeroing).

Batch Spark has no single-pass multi-sink write, so the idiomatic
shape is: persist (or checkpoint to the slim table — which doubles as
the resume point) → N filtered writes, each preceded by its per-sink
counts, which come from one small cached cube. Each sink write
re-reads the cached/columnar slim data with column pruning, not the
raw text. Every partitioned sink has one write layout
(:func:`sink_layout`, a salted repartition), in batch and streaming.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog

T = TypeVar("T")


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


def sink_layout(routed: DataFrame, partition_by: tuple[str, ...]) -> DataFrame:
    """The frame to write for one sink, laid out for its partitioned
    write. Every task emits one file per partition VALUE it sees
    (tasks × values files — 234 for an 8-task by_day write), and the
    driver-side commit of those files is pure constant overhead. So a
    partitioned sink is repartitioned on (partition cols, salt): files ≈
    salt_buckets × values regardless of input width (one file per value
    below 32 shuffle partitions), and a hot partition value is spread
    over its salt buckets instead of landing on one task. The same
    layout serves batch sinks and streaming micro-batches at any
    session width. Choosing the layout submits no job.
    """
    if not partition_by:
        return routed
    spark = routed.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    # deterministic salt (spark_partition_id is retry-dependent: under
    # task/stage retries rows could land in different shuffle outputs)
    # — hash the stable row key every slim frame carries
    salt = F.pmod(
        F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(max(1, nshuf // 16))
    )
    # EXPLICIT partition count: an unnumbered repartition(cols) is fair
    # game for AQE partition coalescing, which shrinks the exchange to
    # ~advisory-size partitions (24 here) and starves the CPU-bound
    # parquet/zstd encode of write tasks (measured on the 10 M-row by_day
    # sink at 32 cores: 11.7 s unnumbered vs 4.8-5.8 s with the slot
    # count pinned; file count unchanged)
    return routed.repartition(nshuf, *[F.col(c) for c in partition_by], salt)


def fan_out(jobs: list[T], write_one: Callable[[T], None]) -> None:
    """Run ``write_one`` for every job (a sink's route, a dedup index
    table) from a thread pool, one thread each. The writes are
    independent jobs, so submitting them concurrently lets the Spark
    scheduler fill cores across their scan/write barriers (threads share
    the SparkSession; each write blocks its own thread only). With all
    four sinks in flight the scheduler interleaves their stages, so the
    scan/commit barriers of one sink hide behind the compute of the
    others (oversubscription just queues tasks)."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        for f in [ex.submit(write_one, j) for j in jobs]:
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
    # at 10 M turns — cached as a single partition and materialized
    # once. Since a single-partition child satisfies any groupBy, each
    # sink's counts frame is one narrow task over the cache (no
    # exchange).
    base = (
        slim.groupBy("parse_status", "tool", "role", "day_bucket")
        .agg(F.count("*").alias("_n"))
        .coalesce(1)
        .cache()
    )
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
            w = sink_layout(slim.filter(r.predicate), r.partition_by)
            catalog.write(w, r.name, partition_by=r.partition_by)
            if on_done is not None:
                on_done(stage)

    try:
        base.count()  # materializes the cache; no row reaches the driver
        fan_out(routes, write_one)
    finally:
        base.unpersist()
    # return lazy read-backs of the persisted counts tables — consuming
    # them costs a tiny scan, whereas returning the computed frames
    # would re-run the (now unpersisted) base aggregate on first use.
    # The known schema spares one schema-inference job per table.
    return {
        r.name: catalog.read(f"{r.name}_counts", schema=counts[r.name].schema)
        for r in routes
    }
