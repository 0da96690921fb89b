"""Physical-plan pins for the round-5 analytics tier: the properties
that make these operators survive a 100× scale-up (pushdown, broadcast
choice, heap-based top-k, bounded sketch exchanges, no Python)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_tpch_q6_predicates_reach_the_scan(spark):
    plan = _plan(entry.queries()["tpch_q6_forecast_revenue"](spark, SF))
    assert "PushedFilters" in plan
    # the date range and quantity bound must be pushed, not residual
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed)
    assert any("l_quantity" in ln for ln in pushed)
    assert "Python" not in plan


def test_tpch_q3_broadcasts_customer_and_heaps_topk(spark):
    plan = _plan(entry.queries()["tpch_q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan  # filtered customer side
    # global top-10 = per-partition heaps + driver merge, never a sort
    # of the full aggregate
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_hll_sketch_plan_is_one_bounded_aggregate(spark):
    from s3_log_parser_spark.operators.sketch import hll_sketch

    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    plan = _plan(hll_sketch(df, "k"))
    # tree section: one partial→final exchange ("(n) Exchange" appears
    # once in the node list and once in the detail block)
    assert plan.count("+- Exchange") == 1
    assert "HashAggregate" in plan
    assert "Python" not in plan


def test_cms_sketch_plan_is_one_bounded_aggregate(spark):
    from s3_log_parser_spark.operators.sketch import cms_sketch

    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    plan = _plan(cms_sketch(df, "k"))
    assert plan.count("+- Exchange") == 1
    assert "Python" not in plan


def test_cms_lookup_broadcasts_the_grid(spark):
    from s3_log_parser_spark.operators.sketch import cms_lookup, cms_sketch

    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    sk = cms_sketch(df, "k", width=64)
    plan = _plan(cms_lookup(sk, df.limit(5), "k", width=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cube_counts_margins_read_cached_cells_not_raw(spark, tmp_path):
    from s3_log_parser_spark.operators.aggregate import cube_counts

    p = str(tmp_path / "cells")
    spark.createDataFrame(
        [("a", i % 3, i) for i in range(100)], "t string, w long, v long"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = cube_counts(df, ["t", "w"], F.col("v"))
    plan = _plan(out)
    # every grouping-set branch reads the persisted finest tier (an
    # InMemoryTableScan), never raw parquet: the only parquet scan in
    # the tree is the ONE node inside the cached relation (the
    # formatted plan re-displays it per branch under the same node id)
    import re

    ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(ids) == 1
    assert plan.count("InMemoryTableScan") >= 4


def test_bm25_broadcasts_everything_and_heaps_topk(spark):
    """BM25's only corpus-wide exchange carries query-term postings:
    every join is broadcast (query terms, df table, totals, dl side
    small after pruning), never a SortMergeJoin of the corpus, and the
    per-query top-k is a partial+final WindowGroupLimit, not a full
    sort."""
    plan = _plan(entry.queries()["bm25_topk_docs"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    # no Python UDF stages (the literal query list's createDataFrame
    # mentions PythonRDD in its scan node; that is driver-side setup,
    # not a per-row UDF)
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_semantic_dedup_no_corpus_broadcast_no_cartesian(spark):
    """SemDeDup's pair stage is a cell-keyed self-join: no
    CartesianProduct and no broadcast of the corpus side (only the
    ≤ n_cells centroid frame broadcasts)."""
    plan = _plan(entry.queries()["semantic_dedup_flags"](spark, SF))
    assert "CartesianProduct" not in plan


def test_importance_scores_broadcast_weights_never_sortmerge(spark):
    # the ≤buckets-row weight table must reach the corpus as a
    # BroadcastHashJoin; a SortMergeJoin here would shuffle the whole
    # corpus on the bucket key at 100 TB. The shingle kernel is the
    # vectorized Arrow stage since r7 (MapInArrow, map-side only, no
    # shuffle) — what must stay absent is any row-at-a-time UDF.
    plan = _plan(entry.queries()["importance_doc_scores"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_gopher_flags_pure_catalyst_one_scan(spark):
    import re

    plan = _plan(entry.queries()["text_gopher_flags"](spark, SF))
    assert "Python" not in plan  # HOFs only — no UDF stage
    ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(ids) == 1
    assert "Exchange" not in plan  # row-local flags: map-side only


def test_stream_slim_plan_is_one_arrow_map_no_udf_no_broadcast(spark, transcripts):
    """The streaming slim builder runs the batch slim path: exactly one
    Arrow map stage (the parse kernel) and no Python UDF stage or
    broadcast. Built over a batch frame, whose plan is the
    micro-batch's."""
    import re

    from s3_log_parser_spark.streaming.stream import build_slim_stream

    plan = _plan(build_slim_stream(transcripts))
    assert len(set(re.findall(r"MapInArrow\s+\((\d+)\)", plan))) == 1
    for node in ("ArrowEvalPython", "BatchEvalPython", "BroadcastExchange", "BroadcastHashJoin"):
        assert node not in plan


def test_stream_unique_starts_plan_is_native_dedup(spark, tmp_path):
    """Streaming first-occurrence dedup is Spark's own stateful
    ``StreamingDeduplicate`` in the JVM: no pandas state function in a
    Python worker and no event-time watermark (which would drop late
    rows of files that are not ordered by ts)."""
    from s3_log_parser_spark.schemas import TRANSCRIPT_SCHEMA
    from s3_log_parser_spark.streaming.stream import (
        build_slim_stream,
        unique_starts_stream_exact,
    )

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(str(tmp_path))
    plan = _plan(unique_starts_stream_exact(build_slim_stream(stream)))
    assert "StreamingDeduplicate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert "EventTimeWatermark" not in plan


def test_build_slim_and_route_write_plans_match_golden(spark, transcripts, tmp_path):
    """The ``build_slim`` plan and the frame each route sink writes are
    pinned to ``golden/slim_route_plans.json`` (tools/make_plan_golden.py),
    so moving the slim builder or the sink write layout into shared
    helpers cannot change the batch pipeline's plans."""
    import json

    from tools.make_plan_golden import GOLDEN, ansi_key, slim_route_plans

    with open(GOLDEN) as f:
        want = json.load(f)[ansi_key(spark)]
    got = slim_route_plans(spark, transcripts, str(tmp_path))
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name
