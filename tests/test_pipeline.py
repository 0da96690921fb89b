"""End-to-end DAG: per-sink aggregate counts, routed-row set equality,
kill/resume idempotence (FIXTURES.md §5)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.plans.pipeline import build_slim, run_pipeline
from s3_log_parser_spark.plans.lineage import Manifest
from s3_log_parser_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def piperun(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    res = run_pipeline(spark, transcripts, out, run_id="t1")
    return out, res


def test_row_conservation(spark, transcripts, piperun):
    out, res = piperun
    assert res.slim.count() == transcripts.count()


def test_sink_counts_consistency(spark, transcripts, piperun):
    out, res = piperun
    total = transcripts.count()
    cat = Catalog(spark, out)
    n_ok = res.slim.filter(F.col("parse_status") == "ok").count()
    n_bad = total - n_ok

    by_tool = cat.read("by_tool_counts")
    assert by_tool.agg(F.sum("count")).collect()[0][0] == n_ok
    assert by_tool.count() == 20  # the 20-tool vocabulary

    by_role = cat.read("by_role_counts")
    assert by_role.agg(F.sum("count")).collect()[0][0] == n_ok
    assert by_role.count() == 3

    rejects = cat.read("rejects_counts")
    assert (rejects.agg(F.sum("count")).collect()[0][0] or 0) == n_bad

    by_day = cat.read("by_day_counts")
    assert by_day.agg(F.sum("count")).collect()[0][0] == n_ok

    # the returned frames are read with the counts' known schema; they
    # must equal a plain read-back that infers it
    assert sorted(res.sink_counts) == ["by_day", "by_role", "by_tool", "rejects"]
    for name, df in res.sink_counts.items():
        inferred = cat.read(f"{name}_counts")
        assert df.schema == inferred.schema, name
        assert sorted(df.collect(), key=str) == sorted(inferred.collect(), key=str), name


def test_slim_schema_matches_build_slim_and_readback(spark, transcripts, piperun):
    """``run_pipeline`` reads the slim checkpoint with ``SLIM_SCHEMA``
    instead of inferring it, so its names and types must be exactly
    what ``build_slim`` writes and what a parquet read-back infers."""
    from s3_log_parser_spark.schemas import SLIM_SCHEMA

    out, res = piperun

    def shape(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    want = shape(SLIM_SCHEMA)
    assert shape(build_slim(transcripts).schema) == want
    assert shape(Catalog(spark, out).read("slim").schema) == want
    assert res.slim.schema == Catalog(spark, out).read("slim").schema


def _job_ids(spark) -> set[int]:
    """Ids of the jobs outside any job group, once the listener bus has
    delivered every event so far to the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def test_route_stage_submits_only_write_jobs(spark, transcripts, tmp_path):
    """The route stage's one control step is a cached cube that feeds
    the counts tables, and each sink's write layout is a fixed salted
    repartition chosen without a job, so ``route_and_write`` submits
    only the cube and the writes: on the fixture at ``local[8]`` under
    AQE that is 3 cube jobs, one counts write per sink (4), the rejects
    write (1), and per partitioned sink a salt shuffle plus its write
    (6) — 14 jobs, against 32 when each layout and counts table ran its
    own jobs. Choosing a layout submits none."""
    from s3_log_parser_spark.operators.router import (
        default_routes,
        route_and_write,
        sink_layout,
    )

    cat = Catalog(spark, str(tmp_path))
    cat.write(build_slim(transcripts), "slim")
    slim = cat.read("slim")

    before = _job_ids(spark)
    route_and_write(slim, cat)
    assert len(_job_ids(spark) - before) == 14

    before = _job_ids(spark)
    for r in default_routes():
        routed = slim.filter(r.predicate)
        sink_layout(routed, r.partition_by)
    assert _job_ids(spark) == before


def test_route_stage_leaves_session_conf_untouched(spark, transcripts, tmp_path):
    """The route stage writes no session conf: its sinks are written
    from threads that share the session, so a conf set around them
    would leak into any concurrent job. Routed from a ``file://``-rooted
    catalog, every sink and counts write sees the session's SQL conf
    exactly as it was before the stage, and so does the session
    afterwards."""
    from s3_log_parser_spark.operators.router import route_and_write

    seen = {}

    class Recording(Catalog):
        def write(self, df, table, *args, **kwargs):
            seen[table] = self.spark.conf.getAll
            super().write(df, table, *args, **kwargs)

    cat = Recording(spark, "file://" + str(tmp_path))
    cat.write(build_slim(transcripts), "slim")
    before = spark.conf.getAll
    seen.clear()
    counts = route_and_write(cat.read("slim"), cat)
    assert set(seen) == {t for r in counts for t in (r, f"{r}_counts")}
    for table, conf in seen.items():
        assert conf == before, table
    assert spark.conf.getAll == before


def test_routed_row_set_equality(spark, piperun):
    from helpers import align_schema

    out, res = piperun
    cat = Catalog(spark, out)
    slim = cat.read("slim")
    # ok-routes ∪ rejects == slim, set-exact both directions
    union = align_schema(
        cat.read("by_tool").unionByName(cat.read("rejects")), slim
    )
    assert union.exceptAll(slim).isEmpty()
    assert slim.exceptAll(union).isEmpty()
    # by_tool / by_role / by_day carry identical row-sets (same ok rows)
    bt = align_schema(cat.read("by_tool"), slim)
    br = align_schema(cat.read("by_role"), slim)
    assert bt.exceptAll(br).isEmpty() and br.exceptAll(bt).isEmpty()


def test_aggregate_matches_direct_groupby(spark, transcripts, piperun):
    """per-sink aggregate counts == independently computed group-bys
    straight from the raw fixture (reference parity: grouped export
    counts, s3extract.c:273)."""
    out, res = piperun
    cat = Catalog(spark, out)
    slim = build_slim(transcripts)
    want = {
        r["tool"]: r["c"]
        for r in slim.filter("parse_status = 'ok'")
        .groupBy("tool")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    got = {r["tool"]: r["count"] for r in cat.read("by_tool_counts").collect()}
    assert got == want


def test_resume_skips_completed_and_is_idempotent(spark, transcripts, tmp_path):
    out = str(tmp_path / "resume")
    # full run
    res1 = run_pipeline(spark, transcripts, out, run_id="r1")
    full_counts = {
        name: sorted((tuple(r) for r in df.collect()))
        for name, df in res1.sink_counts.items()
    }
    # simulate a kill after slim + 2 sinks: drop two manifest entries
    # and the sink dirs, then re-run with the same run_id
    m = Manifest(spark, out, "r1")
    for stage, table in [("sink:by_day", "by_day"), ("sink:rejects", "rejects")]:
        os.remove(m._path(stage))
        shutil.rmtree(os.path.join(out, table))
        shutil.rmtree(os.path.join(out, f"{table}_counts"))
    res2 = run_pipeline(spark, transcripts, out, run_id="r1")
    for name, df in res2.sink_counts.items():
        assert sorted(tuple(r) for r in df.collect()) == full_counts[name]
    # slim stage must have been skipped (manifest still complete)
    assert m.complete("slim")


def test_resume_on_file_uri_out_dir_skips_every_stage(
    spark, transcripts, tmp_path, monkeypatch
):
    """an out dir given as a ``file://`` URI keeps its manifest under
    that dir (not under a relative ``./file:`` tree in the working
    directory), and a second run with the same run id skips every
    stage: no table is rewritten and no entry is re-marked."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = str(tmp_path / "out")
    uri = "file://" + out

    def files():
        return {
            os.path.relpath(os.path.join(d, f), out): os.path.getmtime(
                os.path.join(d, f)
            )
            for d, _, names in os.walk(out)
            for f in names
        }

    run_pipeline(spark, transcripts, uri, run_id="r1")
    entries = sorted(os.listdir(os.path.join(out, "_manifest", "r1")))
    assert [e for e in entries if e.endswith(".json")] == [
        "sink_by_day.json",
        "sink_by_role.json",
        "sink_by_tool.json",
        "sink_rejects.json",
        "slim.json",
    ]
    assert os.listdir(cwd) == []
    before = files()
    run_pipeline(spark, transcripts, uri, run_id="r1")
    assert files() == before
    assert os.listdir(cwd) == []


@pytest.mark.parametrize("case", ["empty", "all_rejected"])
def test_empty_and_all_rejected_input_leave_readable_sinks(
    spark, transcripts, tmp_path, case
):
    """Over empty input, and over input whose every turn fails to
    parse, every table reads back with no schema given: 0 rows (the
    rejects sink holds every rejected turn) and the sink's columns. A
    rerun with the same run id then skips every stage."""
    from s3_log_parser_spark.schemas import SLIM_SCHEMA

    if case == "empty":
        src, n_bad = transcripts.limit(0), 0
    else:
        src = transcripts.limit(500).withColumn("text", F.lit("not an access log line"))
        n_bad = 500
    out = str(tmp_path / "out")

    def files():
        return {
            os.path.relpath(os.path.join(d, f), out): os.path.getmtime(
                os.path.join(d, f)
            )
            for d, _, names in os.walk(out)
            for f in names
        }

    run_pipeline(spark, src, out, run_id="r1")
    slim_cols = set(SLIM_SCHEMA.fieldNames())
    for table, rows in (("slim", n_bad), ("by_tool", 0), ("by_role", 0),
                        ("by_day", 0), ("rejects", n_bad)):
        df = spark.read.parquet(os.path.join(out, table))
        assert set(df.columns) == slim_cols, table
        assert df.count() == rows, table
    for sink, key in (("by_tool", "tool"), ("by_role", "role"),
                      ("by_day", "day_bucket"), ("rejects", "parse_status")):
        df = spark.read.parquet(os.path.join(out, f"{sink}_counts"))
        assert df.columns == [key, "count"], sink
        want = [("bad_format", n_bad)] if sink == "rejects" and n_bad else []
        assert [tuple(r) for r in df.collect()] == want, sink
    before = files()
    run_pipeline(spark, src, out, run_id="r1")
    assert files() == before


def test_parser_paths_agree(spark, transcripts):
    """the production Arrow-native fused parse and the zero-Python SQL
    reference (parse_text_sql → _parse_sql_flat) produce identical slim
    tables (exceptAll both ways empty)."""
    arrow = build_slim(transcripts)
    sql = build_slim(transcripts, use_sql_parser=True)
    assert arrow.exceptAll(sql).isEmpty()
    assert sql.exceptAll(arrow).isEmpty()


def test_slim_layers_looked_up_at_call_time(spark, transcripts, monkeypatch):
    """The benchmark's layer tracer (perfbench/tracing.py) counts the
    parse and encode layers by wrapping ``parse_text_arrow`` and
    ``encode_slim_flat`` on their modules. ``build_slim`` and
    ``_parse_encode_classify`` must look both up there at call time: a
    module-level ``from … import`` would bind the originals and the
    traced layers would silently read zero."""
    from s3_log_parser_spark.functions import encode, parsing_arrow
    from s3_log_parser_spark.plans.pipeline import _parse_encode_classify

    calls: list[str] = []
    for mod, name in (
        (parsing_arrow, "parse_text_arrow"),
        (encode, "encode_slim_flat"),
    ):

        def counted(*args, _fn=getattr(mod, name), _name=name, **kwargs):
            calls.append(_name)
            return _fn(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)
    for build in (build_slim, _parse_encode_classify):
        calls.clear()
        build(transcripts)
        assert sorted(calls) == ["encode_slim_flat", "parse_text_arrow"], build


def test_no_python_udf_outside_parse(spark, transcripts):
    """north_rule 'no per-row Python': the DAG's only Python is the
    Arrow-batched grok/DJB2 stage; verify the SQL-parser variant plans
    zero Python evals end-to-end."""
    slim = build_slim(transcripts, use_sql_parser=True)
    plan = slim._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDF
    assert "ArrowEvalPython" not in plan  # fully JVM in this variant


def test_sink_layout_salts_at_32_shuffle_partitions(spark, transcripts, tmp_path):
    """At 32 shuffle partitions the salt has two buckets
    (``32 // 16``): each partitioned sink's exchange hashes on its
    partition column plus ``pmod(xxhash64(conv_id, turn_idx), 2)``, and
    no partition value is written as more than 2 files."""
    import glob
    import re

    from s3_log_parser_spark.operators.router import route_and_write

    plans: dict[str, str] = {}

    class Recording(Catalog):
        def write(self, df, table, *args, partition_by=(), **kwargs):
            if partition_by:
                plan = df._jdf.queryExecution().executedPlan().toString()
                plans[table] = re.sub(r"#\d+L?", "", plan)
            super().write(df, table, *args, partition_by=partition_by, **kwargs)

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        slim = build_slim(transcripts)
        route_and_write(slim, Recording(spark, str(tmp_path)))
    finally:
        spark.conf.set(key, before)

    salt = "pmod(xxhash64(conv_id, turn_idx, 42), 2)"
    for table, col in (("by_tool", "tool"), ("by_role", "role"),
                       ("by_day", "day_bucket")):
        assert f"hashpartitioning({col}, {salt}, 32)" in plans[table], table
        values = glob.glob(f"{tmp_path}/{table}/{col}=*")
        assert values, table
        for v in values:
            assert 1 <= len(glob.glob(f"{v}/*.parquet")) <= 2, v


def test_route_stage_releases_cube_cache_when_a_sink_write_fails(
    spark, transcripts, tmp_path
):
    """A failing sink write propagates out of ``route_and_write`` and
    leaves no cached cube behind: the session's cache manager is empty
    afterwards."""
    from s3_log_parser_spark.operators.router import route_and_write

    class FailingByDay(Catalog):
        def write(self, df, table, *args, **kwargs):
            if table == "by_day":
                raise RuntimeError("by_day write failed")
            super().write(df, table, *args, **kwargs)

    cat = FailingByDay(spark, str(tmp_path))
    cat.write(build_slim(transcripts), "slim")
    slim = cat.read("slim")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # the session fixture caches `transcripts`
    try:
        with pytest.raises(RuntimeError, match="by_day write failed"):
            route_and_write(slim, cat)
        assert cache.isEmpty()
    finally:
        transcripts.cache()


def test_percentiles_disc_exact_and_approx(spark):
    """A5: the value at ascending rank ceil(p*n) per key, NULLs
    excluded."""
    from s3_log_parser_spark.operators.aggregate import percentiles_disc

    rows = [("a", v) for v in [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]]
    rows += [("b", 7), ("b", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    got = {r["k"]: r for r in percentiles_disc(df, "k", "v").collect()}
    assert got["a"]["n"] == 10
    assert got["a"]["p500"] == 50     # ceil(10*0.5) = rank 5
    assert got["a"]["p950"] == 100    # ceil(10*0.95) = rank 10
    assert got["a"]["p990"] == 100
    assert got["b"]["n"] == 1 and got["b"]["p500"] == 7  # NULLs excluded


def test_profile_key_skew_modes(spark):
    """skew profiler: exact stats on a planted hot key."""
    from s3_log_parser_spark.operators.aggregate import profile_key_skew

    rows = [("hot", i) for i in range(90)] + [
        (f"k{i}", i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, v int")
    r = profile_key_skew(df, "k").collect()[0]
    assert r["n_keys"] == 11
    assert r["total_rows"] == 100
    assert r["max_count"] == 90
    assert r["p50_count"] == 1      # rank ceil(11*0.5)=6 of [1×10, 90]
    assert r["p99_count"] == 90     # rank ceil(11*0.99)=11
    assert r["top1_share_x1000"] == 900


def test_grouped_topk_deterministic_and_group_limited(spark):
    """per-group top-k: deterministic total order picks the same rows
    every run, and the plan carries a WindowGroupLimit so ≤k rows per
    group cross the shuffle (the 100 TB property)."""
    from s3_log_parser_spark.operators.aggregate import grouped_topk
    from pyspark.sql import functions as F

    rows = [
        ("u1", "a", 5), ("u1", "b", 5), ("u1", "c", 1),
        ("u2", "x", 9),
    ]
    df = spark.createDataFrame(rows, "user string, item string, n long")
    out = grouped_topk(
        df, ("user",), (F.col("n").desc(), F.col("item").asc()), k=2
    )
    got = {(r["user"], r["item"], r["rank"]) for r in out.collect()}
    # tie on n=5 broken by item asc: a before b
    assert got == {("u1", "a", 1), ("u1", "b", 2), ("u2", "x", 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
