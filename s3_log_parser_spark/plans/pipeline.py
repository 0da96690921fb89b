"""The end-to-end DAG: parse → encode → enrich → flags → route → aggregate.

Distributed trace (SURVEY.md §3.1): scan transcripts (column-pruned to
conv_id, turn_idx, role, tool, text, ts) → one Arrow pass (DFA parse
bank + DJB2, text dropped at the worker) → Catalyst-codegen'd
casts/encodings + UA classify → ONE shuffle (the (ip_hash, key_hash)
window for ST1, narrowest possible rows) → role/tool dims as CASE WHEN
lookups post-shuffle → slim table write (the checkpoint) → route stage
over the columnar re-read (read with the known ``SLIM_SCHEMA``, so no
inference job): one collected (status × tool × role × day) cube sets
every sink's write layout on the driver and feeds its counts table,
so the route stage submits only the jobs that write data — the cube,
then per sink one counts write and one data write.

Scale posture: the only wide exchange before the sinks is the ST1
window on high-cardinality hash keys (no skew by construction); the
hot-conversation skew on conv_id never hits a shuffle in this DAG
(conv-keyed work is the *order* surrogate inside the ip/key window,
not a partition key). Sink writes are pruned columnar scans of slim.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.encode import SLIM_COLUMNS, encode_slim
from ..functions.parsing import parse_text_sql
from ..operators.enrich import classify_when, enrich_role_tool
from ..operators.flags import with_flags
from ..operators.router import Route, default_routes, route_and_write
from ..schemas import SLIM_SCHEMA
from ..sources.catalog import Catalog
from .lineage import Manifest


@dataclass
class PipelineResult:
    slim: DataFrame
    sink_counts: dict[str, DataFrame]
    timings: dict[str, float] = field(default_factory=dict)
    lineage: DataFrame | None = None


def _parse_encode_classify(transcripts: DataFrame) -> DataFrame:
    """Parse, flat encode and user-agent classify: the slim columns
    before flags and dims. The Arrow kernel is one ``mapInArrow``
    stage. Both ``build_slim`` and the streaming ``build_slim_stream``
    start here. The parse and encode functions are looked up on their
    modules at call time, so a wrapper set on the module attribute
    (the benchmark's layer tracer) sees every call."""
    from ..functions.encode import encode_slim_flat
    from ..functions.parsing_arrow import parse_text_arrow

    df = encode_slim_flat(parse_text_arrow(transcripts, "text", "conv_id"))
    return classify_when(df).drop("user_agent")


def build_slim(transcripts: DataFrame, use_sql_parser: bool = False) -> DataFrame:
    """The logical plan for transcripts → slim (no writes, no actions).

    The production path is the Arrow-native fused parse (mapInArrow +
    RE2 + dictionary-encoded DJB2) — exactly ONE vectorized stage, zero
    per-row Python objects (north_rule). ``use_sql_parser`` selects the
    zero-Python Catalyst reference (``parse_text_sql`` → ``encode_slim``)
    the production path is checked against in tests and the benchmark.
    """
    if use_sql_parser:
        df = encode_slim(parse_text_sql(transcripts, "text"))
        # E7/E8: pattern banks are compile-time constants → CASE WHEN
        # chains (whole-stage codegen)
        df = classify_when(
            df.withColumn("user_agent", F.col("parsed")["user_agent"])
        ).drop("user_agent")
    else:
        df = _parse_encode_classify(transcripts)
    # window BEFORE the role/tool dims: with_flags' ST1 exchange is the
    # DAG's one wide shuffle, so it should carry the narrowest rows
    # possible — the dim columns (3 ints/row) are attached on the
    # post-shuffle side instead, as CASE WHEN lookups (no join, no
    # BroadcastExchange; column values do not depend on position)
    df = with_flags(df)
    df = enrich_role_tool(df)
    return df.select(*SLIM_COLUMNS)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    routes: list[Route] | None = None,
    verbose: bool = False,
) -> PipelineResult:
    """Execute the full DAG with manifest-gated idempotent resume.

    ``verbose``: additionally write a ``_lineage`` table of
    per-partition (rows, approx bytes) over the slim checkpoint — the
    reference's ``-v`` per-batch counters (src/s3parser.c:56-67) as a
    queryable table instead of stderr noise. One extra pruned pass over
    slim, only when asked for.
    """
    catalog = Catalog(spark, out_dir)
    manifest = Manifest(out_dir, run_id)
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    if not manifest.complete("slim"):
        slim = build_slim(transcripts)
        catalog.write(slim, "slim", mode="overwrite")
        manifest.mark("slim")
    timings["slim"] = time.perf_counter() - t0

    # route from the columnar checkpoint, not the raw text. (Measured:
    # persisting slim in executor memory across the fan-out LOSES to
    # re-scanning the freshly written parquet here — OS page cache +
    # columnar decode beat MEMORY_AND_DISK's serialize/deserialize. On
    # a real cluster with remote object storage the trade flips; the
    # catalog seam is where a cache policy would slot in.) The slim
    # schema is known, so the read runs no schema-inference job.
    slim = catalog.read("slim", schema=SLIM_SCHEMA)

    t0 = time.perf_counter()
    sink_timings: dict[str, float] = {}
    counts = route_and_write(
        slim,
        catalog,
        routes=routes,
        skip=manifest.complete,
        on_done=manifest.mark,
        timings_out=sink_timings,
    )
    timings["route"] = time.perf_counter() - t0
    for name, dt in sink_timings.items():
        timings[f"route:{name}"] = dt

    lineage = None
    if verbose:
        from .lineage import lineage_summary, with_partition_metrics

        if not manifest.complete("lineage"):
            catalog.write(
                lineage_summary(with_partition_metrics(slim)), "_lineage"
            )
            manifest.mark("lineage")
        lineage = catalog.read("_lineage")

    return PipelineResult(
        slim=slim, sink_counts=counts, timings=timings, lineage=lineage
    )
