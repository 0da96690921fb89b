"""Lineage: manifest idempotence + per-partition metrics (north_rule)."""

import os

from s3_log_parser_spark.plans.lineage import Manifest, partition_metrics


def test_manifest_roundtrip(tmp_path):
    m = Manifest(str(tmp_path), "r1")
    assert not m.complete("slim")
    m.mark("slim", rows=10)
    assert m.complete("slim")
    m.mark("sink:by_tool")
    assert sorted(m.stages()) == ["sink_by_tool", "slim"]
    # a second run-id is independent
    m2 = Manifest(str(tmp_path), "r2")
    assert not m2.complete("slim")


def test_manifest_atomic_no_tmp_left(tmp_path):
    m = Manifest(str(tmp_path), "r1")
    m.mark("s1")
    assert not [f for f in os.listdir(m.dir) if f.endswith(".tmp")]


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


def test_raw_log_reader(spark, tmp_path, transcripts):
    """S1 original form: raw text files → transcripts shape → the same
    pipeline parses them (set equality of slim encodings modulo conv
    identity, which raw logs derive from remote_ip)."""
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.readers import read_raw_logs

    raw_dir = str(tmp_path / "raw")
    transcripts.select("text").write.mode("overwrite").text(raw_dir)
    df = read_raw_logs(spark, raw_dir)
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert df.count() == transcripts.count()
    slim = build_slim(df)
    ok = slim.filter("parse_status = 'ok'")
    want_ok = build_slim(transcripts).filter("parse_status = 'ok'")
    assert ok.count() == want_ok.count()
    # content-equality on conv-independent encodings
    a = ok.groupBy("ip_hash", "key_hash", "http_code").count()
    b = want_ok.groupBy("ip_hash", "key_hash", "http_code").count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
