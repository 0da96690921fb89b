"""Streaming variant of parse → enrich → route (SURVEY.md §2.10).

The reference is pure batch; this module exists because the engine's
users tail transcript tables continuously. Shape:

- ``readStream`` on the transcripts source (file/Iceberg/Kafka behind
  the same seam),
- the batch slim path (``plans.pipeline``): the one ``mapInArrow``
  parse kernel, flat encode, CASE WHEN classify and the CASE WHEN
  role/tool dims — MINUS the ST1 window (windows over unbounded data
  need state) and with no event-time watermark: first-occurrence
  dedup of 206-START rows is :func:`unique_starts_stream_exact`,
  Spark's streaming ``dropDuplicates`` with one state entry per
  (ip_hash, key_hash) for the stream's lifetime,
- ``foreachBatch`` multi-sink router — the streaming-native form of
  the batch cache-then-filter fan-out (single pass per micro-batch),
  with the batch router's sink write layout and concurrent writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.enrich import enrich_role_tool
from ..operators.flags import chunk_flags
from ..operators.router import Route, default_routes, fan_out, sink_layout
from ..plans.pipeline import _parse_encode_classify
from ..schemas import SLIM_SCHEMA
from ..sources.catalog import Catalog


def build_slim_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming version of plans.pipeline.build_slim: the same Arrow
    parse, encode, classify and role/tool dims (no Python UDF stage,
    no broadcast), with flags but without the ST1 window — the stateless
    bitmask with is_first=false; first-occurrence dedup of the start
    rows is :func:`unique_starts_stream_exact`. No watermark: the
    router is stateless, and a watermark would make the stateful dedup
    drop late rows of files that are not ordered by ``ts``."""
    df = enrich_role_tool(_parse_encode_classify(transcripts))
    df = df.withColumn(
        "flags",
        chunk_flags(
            F.col("http_code"),
            F.col("byte_start"),
            F.col("byte_end"),
            F.col("object_size"),
            F.lit(False),
        ),
    )
    return df.select(*SLIM_SCHEMA.fieldNames())


def start_router(
    slim_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """foreachBatch multi-sink router: each micro-batch is persisted
    once and feeds every sink (batch Spark can't do this without
    persist). The sink appends run concurrently, each with the batch
    router's write layout (``sink_layout``): below 32 shuffle
    partitions a micro-batch writes one file per partition value."""
    routes = default_routes()

    def route_batch(batch: DataFrame, batch_id: int) -> None:
        cat = Catalog(batch.sparkSession, out_dir)

        def write_one(r: Route) -> None:
            routed = batch.filter(r.predicate)
            cat.write(
                sink_layout(routed, r.partition_by),
                r.name,
                mode="append",
                partition_by=r.partition_by,
            )

        batch.persist()
        try:
            fan_out(routes, write_one)
        finally:
            batch.unpersist()

    w = (
        slim_stream.writeStream.foreachBatch(route_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def unique_starts_stream_exact(slim_stream: DataFrame) -> DataFrame:
    """streaming ST1 with UNBOUNDED state (VERDICT r3 missing #4): one
    emitted row per distinct (ip_hash, key_hash) start key over the
    WHOLE stream — the 206-START filter, then Spark's streaming
    ``dropDuplicates`` (one ``StreamingDeduplicate`` node, all in the
    JVM). With no watermark upstream the operator keeps one state entry
    per seen key for the stream's lifetime and recovers it from the
    checkpoint, so a key that reappears hours later is still
    deduplicated.

    Scale posture: state is O(distinct keys) in the state store
    (RocksDB in production), hash-partitioned by key — the same
    asymptotics as the batch window's shuffle, amortized over the
    stream's lifetime. The emitted REPRESENTATIVE row is the first one
    Spark sees for the key; the emitted KEY SET is exactly the batch
    ST1 key set, while the representative may differ from the batch
    window's (ts, conv_id, turn_idx)-minimum (inherent to any streaming
    dedup; the batch window stays the bit-exact contract surface)."""
    return slim_stream.filter(
        (F.col("http_code") == 206) & ((F.col("flags") % 4) >= 2)
    ).dropDuplicates(["ip_hash", "key_hash"])
