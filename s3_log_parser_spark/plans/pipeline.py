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

from ..functions.encode import SLIM_COLUMNS
from ..functions.hashes import djb2_expr, first_path_segment
from ..functions.parsing import parse_range, parse_text_sql
from ..operators.enrich import classify_when, enrich_role_tool
from ..operators.flags import with_flags
from ..operators.router import route_and_write
from ..schemas import SLIM_SCHEMA
from ..sources.catalog import Catalog
from .lineage import Manifest


@dataclass
class PipelineResult:
    slim: DataFrame
    sink_counts: dict[str, DataFrame]
    timings: dict[str, float] = field(default_factory=dict)
    lineage: DataFrame | None = None


def _encode_classify(parsed: DataFrame) -> DataFrame:
    """Flat encode and user-agent classify over the parse kernel's flat
    columns. The encode function is looked up on its module at call
    time, so a wrapper set on the module attribute (the benchmark's
    layer tracer) sees every call."""
    from ..functions.encode import encode_slim_flat

    return classify_when(encode_slim_flat(parsed)).drop("user_agent")


def _parse_encode_classify(transcripts: DataFrame) -> DataFrame:
    """Parse, flat encode and user-agent classify: the slim columns
    before flags and dims. The Arrow kernel is one ``mapInArrow``
    stage. Both ``build_slim`` and the streaming ``build_slim_stream``
    start here; like the encode function, the parse function is looked
    up on its module at call time."""
    from ..functions.parsing_arrow import parse_text_arrow

    return _encode_classify(parse_text_arrow(transcripts, "text", "conv_id"))


def _parse_sql_flat(transcripts: DataFrame) -> DataFrame:
    """The zero-Python Catalyst reference parse (``parse_text_sql``)
    projected to the flat columns ``parse_text_arrow`` emits: DJB2
    hashes via ``djb2_expr``, the byte range via ``parse_range``, the
    raw numeric fields and ``user_agent``; ``text`` is dropped."""
    p = F.col("parsed")
    byte_start, byte_end = parse_range(p["range_header"])
    return (
        parse_text_sql(transcripts, "text")
        .withColumns(
            {
                "ip_hash": djb2_expr(p["remote_ip"]),
                "key_hash": djb2_expr(p["key"]),
                "tool_hash": djb2_expr(first_path_segment(p["key"])),
                "conv_hash": djb2_expr(F.col("conv_id")),
                "http_code_raw": p["http_code"],
                "bytes_sent": p["bytes_sent"],
                "object_size": p["object_size"],
                "total_time_ms": p["total_time_ms"],
                "byte_start": byte_start,
                "byte_end": byte_end,
                "user_agent": p["user_agent"],
            }
        )
        .drop("parsed", "text")
    )


def build_slim(transcripts: DataFrame, use_sql_parser: bool = False) -> DataFrame:
    """The logical plan for transcripts → slim (no writes, no actions).

    The production path is the Arrow-native fused parse (mapInArrow +
    RE2 + dictionary-encoded DJB2) — exactly ONE vectorized stage, zero
    per-row Python objects (north_rule). ``use_sql_parser`` selects the
    zero-Python Catalyst reference parse (:func:`_parse_sql_flat`) the
    production path is checked against in tests and the benchmark;
    both parses feed the same encode, classify, flags and dims.
    """
    if use_sql_parser:
        df = _encode_classify(_parse_sql_flat(transcripts))
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
    manifest = Manifest(spark, out_dir, run_id)
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

    # called through this module's global: the benchmark's layer
    # tracer wraps ``plans.pipeline.route_and_write`` to time the stage
    # and attribute its jobs (per-sink wall and CPU come from there)
    t0 = time.perf_counter()
    counts = route_and_write(
        slim, catalog, skip=manifest.complete, on_done=manifest.mark
    )
    timings["route"] = time.perf_counter() - t0

    lineage = None
    if verbose:
        from .lineage import partition_metrics

        if not manifest.complete("lineage"):
            catalog.write(partition_metrics(slim), "_lineage")
            manifest.mark("lineage")
        lineage = catalog.read("_lineage")

    return PipelineResult(
        slim=slim, sink_counts=counts, timings=timings, lineage=lineage
    )
