"""Structured-streaming router: file-source micro-batch → per-sink tables."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.schemas import TRANSCRIPT_SCHEMA
from s3_log_parser_spark.sources.catalog import Catalog
from s3_log_parser_spark.streaming.stream import build_slim_stream, start_router


@pytest.fixture(scope="module")
def stream_dirs(spark, transcripts, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    transcripts.write.mode("overwrite").parquet(src)
    return src, out, ckpt


def test_stream_router_end_to_end(spark, transcripts, stream_dirs):
    src, out, ckpt = stream_dirs
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    slim = build_slim_stream(stream)
    q = start_router(slim, out, ckpt, trigger_once=True)
    q.awaitTermination(300)

    cat = Catalog(spark, out)
    n_total = transcripts.count()
    n_routed = cat.read("by_tool").count() + cat.read("rejects").count()
    assert n_routed == n_total

    # streaming sinks match the batch pipeline's routing exactly
    got = {
        r["tool"]: r["c"]
        for r in cat.read("by_tool")
        .groupBy("tool")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    from s3_log_parser_spark.plans.pipeline import build_slim

    want = {
        r["tool"]: r["c"]
        for r in build_slim(transcripts)
        .filter("parse_status = 'ok'")
        .groupBy("tool")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == want


def test_stream_resume_no_duplicates(spark, stream_dirs):
    """restarting from the same checkpoint must not re-append data
    (source offsets are committed → idempotent resume)."""
    src, out, ckpt = stream_dirs
    cat = Catalog(spark, out)
    before = cat.read("by_tool").count()
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = start_router(build_slim_stream(stream), out, ckpt, trigger_once=True)
    q.awaitTermination(300)
    assert cat.read("by_tool").count() == before


def test_stream_batch_rowset_equivalence(spark, transcripts, stream_dirs):
    """VERDICT r2 #9: full row-set equality between the streaming
    sinks' union and the batch pipeline — modulo the UNIQUE_IP bit,
    which the stream's slim rows never set (streaming first-occurrence
    dedup is unique_starts_stream_exact), masked on both sides."""
    from helpers import align_schema
    from s3_log_parser_spark.plans.pipeline import build_slim

    src, out, ckpt = stream_dirs
    cat = Catalog(spark, out)
    mask = F.col("flags").bitwiseAND(F.lit(-2))
    streamed = (
        cat.read("by_tool")
        .unionByName(cat.read("rejects"))
        .withColumn("flags", mask)
    )
    batch = build_slim(transcripts).withColumn("flags", mask)
    streamed = align_schema(streamed, batch)
    assert streamed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(streamed).isEmpty()


def _parquet_files(d):
    import os

    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_stream_router_one_file_per_partition_value(spark, transcripts, tmp_path):
    """On a session under 16 cores a micro-batch's partitioned sinks
    go through the salted repartition: one file per partition value,
    however many input tasks the micro-batch has."""
    import os

    assert spark.sparkContext.defaultParallelism < 16
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    transcripts.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = start_router(build_slim_stream(stream), out, ckpt, trigger_once=True)
    q.awaitTermination(300)
    assert q.exception() is None
    assert [n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()] == ["0"]
    for sink, key in (("by_tool", "tool"), ("by_role", "role"), ("by_day", "day_bucket")):
        parts = [p for p in os.listdir(os.path.join(out, sink)) if p.startswith(key + "=")]
        assert parts, sink
        for p in parts:
            assert len(_parquet_files(os.path.join(out, sink, p))) == 1, (sink, p)


def test_stream_router_all_rejected_then_empty_batch(spark, tmp_path):
    """A micro-batch whose every row fails to parse, then an empty
    micro-batch: both commit without error, rejects holds every row
    and the ok sinks hold none."""
    import glob
    import os
    import time

    import pyarrow.parquet as pq

    from s3_log_parser_spark.sources.gen import gen_transcripts

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    bad = gen_transcripts(spark, rows=200).withColumn("text", F.lit("not an access log line"))
    bad.coalesce(1).write.parquet(f"{src}/f1")
    bad.limit(0).coalesce(1).write.parquet(f"{src}/f2")
    now = time.time()
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (now + i * 10, now + i * 10))
    assert _parquet_files(f"{src}/f2")  # the empty micro-batch's input file

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = start_router(build_slim_stream(stream), out, ckpt, trigger_once=True)
    q.awaitTermination(300)
    assert q.exception() is None
    assert [p["numInputRows"] for p in q.recentProgress] == [200, 0]

    rejects = spark.read.parquet(os.path.join(out, "rejects"))
    assert rejects.count() == 200
    assert {r["parse_status"] for r in rejects.select("parse_status").collect()} == {"bad_format"}
    for sink in ("by_tool", "by_role", "by_day"):
        files = glob.glob(os.path.join(out, sink, "**", "*.parquet"), recursive=True)
        assert sum(pq.read_metadata(f).num_rows for f in files) == 0, sink


def test_stream_exact_dedup_unbounded_state(spark, transcripts, tmp_path_factory):
    """unique_starts_stream_exact: exactly ONE emitted row per distinct
    (ip_hash, key_hash) start key across MULTIPLE micro-batches whose
    files are not ordered by ts, and the emitted key set equals the
    batch ST1 key set."""
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.streaming.stream import unique_starts_stream_exact

    src = str(tmp_path_factory.mktemp("exact_src"))
    out = str(tmp_path_factory.mktemp("exact_out"))
    ckpt = str(tmp_path_factory.mktemp("exact_ckpt"))
    # several files → maxFilesPerTrigger=1 forces multiple micro-batches,
    # so duplicate keys arrive in DIFFERENT batches
    transcripts.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = unique_starts_stream_exact(build_slim_stream(stream))
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    keys = got.select("ip_hash", "key_hash").collect()
    key_set = {(r["ip_hash"], r["key_hash"]) for r in keys}
    assert len(keys) == len(key_set), "a key was emitted more than once"

    batch_keys = {
        (r["ip_hash"], r["key_hash"])
        for r in build_slim(transcripts)
        .filter(F.col("flags").bitwiseAND(F.lit(1)) == 1)
        .select("ip_hash", "key_hash")
        .collect()
    }
    assert key_set == batch_keys


def test_stream_exact_dedup_resumes_from_checkpoint(spark, tmp_path_factory):
    """the unbounded-state dedup must recover its seen-keys state from
    the checkpoint: keys emitted before a restart are NOT re-emitted
    when the same key arrives in post-restart data."""
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts
    from s3_log_parser_spark.streaming.stream import (
        build_slim_stream,
        unique_starts_stream_exact,
    )

    src = str(tmp_path_factory.mktemp("resume_src"))
    out = str(tmp_path_factory.mktemp("resume_out"))
    ckpt = str(tmp_path_factory.mktemp("resume_ckpt"))
    full = gen_transcripts(spark, rows=2000).cache()
    half_a = full.filter("turn_idx % 2 = 0")
    half_b = full.filter("turn_idx % 2 = 1")
    half_a.write.mode("overwrite").parquet(f"{src}/a")

    def run_once():
        stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(f"{src}/*")
        q = (
            unique_starts_stream_exact(build_slim_stream(stream))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()  # first run: half A only
    half_b.write.mode("overwrite").parquet(f"{src}/b")
    run_once()  # restart: half B arrives, state must carry over

    keys = [
        (r["ip_hash"], r["key_hash"])
        for r in spark.read.parquet(out).select("ip_hash", "key_hash").collect()
    ]
    assert len(keys) == len(set(keys)), "restart re-emitted an already-seen key"
    batch_keys = {
        (r["ip_hash"], r["key_hash"])
        for r in build_slim(full)
        .filter(F.col("flags").bitwiseAND(F.lit(1)) == 1)
        .select("ip_hash", "key_hash")
        .collect()
    }
    assert set(keys) == batch_keys
    full.unpersist()


def test_streaming_ingest_incremental_dedup(spark, tmp_path):
    """the streaming twin of the daily ingestion loop: two micro-batches
    (maxFilesPerTrigger=1, mtime-ordered), each deduped against the
    persisted index — batch 2 must see batch 1's ACCEPTED docs in the
    index (the mid-stream append), and replayed-batch output lands in
    per-batch partitions."""
    import os
    import time

    from s3_log_parser_spark.operators.dedup import (
        build_dedup_index,
        write_dedup_index,
    )
    from s3_log_parser_spark.streaming.ingest import start_ingest

    hist_text = (
        "the quick brown fox jumps over one lazy dog while seven other "
        "animals watch from a distant hill"
    )
    fresh1 = (
        "totally fresh content about sailing boats across quiet "
        "northern lakes during long autumn evenings"
    )
    fresh2 = (
        "entirely new discussion of mountain railway timetables in "
        "early spring snow"
    )
    idx_dir = str(tmp_path / "idx")
    seed = spark.createDataFrame([(0, hist_text)], "doc_id long, text string")
    write_dedup_index(build_dedup_index(seed), idx_dir)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: a dup of history, an intra-batch dup pair, one fresh doc
    b1 = spark.createDataFrame(
        [(100, hist_text), (101, fresh1), (102, fresh1)],
        "doc_id long, text string",
    ).coalesce(1)
    b1.write.parquet(f"{src}/f1")
    time.sleep(0.01)
    # batch 2: near-dup of a batch-1 SURVIVOR + one genuinely new doc
    b2 = spark.createDataFrame(
        [(200, fresh1.replace("quiet", "silent")), (201, fresh2)],
        "doc_id long, text string",
    ).coalesce(1)
    b2.write.parquet(f"{src}/f2")
    # force strict mtime order f1 < f2 so micro-batch order is stable
    now = time.time()
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = str(tmp_path / "out")
    q = start_ingest(stream, idx_dir, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = spark.read.parquet(f"{out}/accepted")
    rows = {r["doc_id"]: r["_batch"] for r in got.collect()}
    # 100 dropped (history dup), 101/102 collapse to 101 (intra-batch),
    # 200 dropped (near-dup of 101 via the mid-stream index append),
    # 201 accepted
    assert set(rows) == {101, 201}
    assert rows[101] != rows[201]  # distinct micro-batch partitions
    # and the index grew by exactly the accepted docs' signatures
    sigs = spark.read.parquet(f"{idx_dir}/sigs")
    assert {r["id"] for r in sigs.collect()} == {0, 101, 201}


def test_ingest_audit_gate_skips_bad_batch(spark, tmp_path):
    """checks= gates each micro-batch: a contract-breaking batch is
    skipped whole (on_audit_fail='skip'), its report row records why,
    and a clean batch ingests normally."""
    import os
    import time

    from s3_log_parser_spark.operators.audit import not_null
    from s3_log_parser_spark.operators.dedup import (
        build_dedup_index,
        write_dedup_index,
    )
    from s3_log_parser_spark.streaming.ingest import start_ingest

    good = (
        "perfectly valid document text about harbor lights and the "
        "slow turning of autumn tides on a cold evening"
    )
    idx_dir = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(0, "seed history document with plenty of distinct words here "
             "covering boats trains and mountain weather")],
        "doc_id long, text string",
    )
    write_dedup_index(build_dedup_index(seed), idx_dir)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1 breaks the not_null(text) contract; batch 2 is clean
    spark.createDataFrame(
        [(100, None), (101, good)], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(
        [(200, good + " with a fresh unique suffix clause")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(f"{src}/f2")
    now = time.time()
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = str(tmp_path / "out")
    q = start_ingest(
        stream, idx_dir, out, str(tmp_path / "ckpt"),
        checks=[not_null("text", "doc_id")], on_audit_fail="skip",
    )
    q.awaitTermination(120)

    accepted = {
        r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect()
    }
    assert accepted == {200}  # bad batch skipped WHOLE (101 too)
    audit_tbl = spark.read.parquet(f"{out}/audit")
    by_batch = {
        r["_batch"]: (r["failed"], r["passed"]) for r in audit_tbl.collect()
    }
    assert len(by_batch) == 2
    assert sorted(v for v in by_batch.values()) == [(0, True), (1, False)]
    # the skipped batch left no trace in the index
    sigs = spark.read.parquet(f"{idx_dir}/sigs")
    assert {r["id"] for r in sigs.collect()} == {0, 200}


def test_ingest_audit_gate_raise_mode_stops_stream(spark, tmp_path):
    import os

    from s3_log_parser_spark.operators.audit import not_null
    from s3_log_parser_spark.operators.dedup import (
        build_dedup_index,
        write_dedup_index,
    )
    from s3_log_parser_spark.streaming.ingest import start_ingest

    idx_dir = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(0, "seed history document words boats trains weather")],
        "doc_id long, text string",
    )
    write_dedup_index(build_dedup_index(seed), idx_dir)
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(100, None)], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/f1")

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        f"{src}/*"
    )
    q = start_ingest(
        stream, idx_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        checks=[not_null("text")],  # default on_audit_fail="raise"
    )
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="failed audit"):
        q.awaitTermination(120)
