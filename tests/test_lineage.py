"""Lineage: manifest idempotence + per-partition metrics (north_rule)."""

import os

from s3_log_parser_spark.plans.lineage import Manifest, partition_metrics


def test_manifest_roundtrip(spark, tmp_path):
    m = Manifest(spark, str(tmp_path), "r1")
    assert not m.complete("slim")
    m.mark("slim", rows=10)
    assert m.complete("slim")
    m.mark("sink:by_tool")
    assert sorted(m.stages()) == ["sink_by_tool", "slim"]
    # a second run-id is independent
    m2 = Manifest(spark, str(tmp_path), "r2")
    assert not m2.complete("slim")


def test_manifest_atomic_no_tmp_left(spark, tmp_path):
    m = Manifest(spark, str(tmp_path), "r1")
    m.mark("s1")
    m.mark("s1")  # re-marking replaces the entry
    assert m.stages() == ["s1"]
    assert not [f for f in os.listdir(m.dir) if ".tmp" in f]


def test_partition_metrics_row_conservation(spark, transcripts):
    df = transcripts.repartition(6)
    summary = partition_metrics(df).collect()
    assert sum(r["rows"] for r in summary) == transcripts.count()
    assert sorted(r["_part_id"] for r in summary) == list(range(6))
    row_bytes = df._jdf.schema().defaultSize()
    for r in summary:
        assert r["approx_bytes"] == r["rows"] * row_bytes > 0
    types = {f.name: f.dataType.simpleString() for f in partition_metrics(df).schema}
    assert types == {"_part_id": "int", "rows": "bigint", "approx_bytes": "bigint"}


def test_partition_metrics_plan_runs_no_python(spark, transcripts):
    """the lineage table is one JVM aggregate: no row of the measured
    frame is shipped to a Python worker."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        partition_metrics(transcripts.repartition(6)).explain("formatted")
    plan = buf.getvalue()
    assert "HashAggregate" in plan
    for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node
