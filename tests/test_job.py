"""CLI driver parity: gen → parse → extract (reference-shaped grouped
JSON, S6/F1/F2/F3) and run -v (lineage table, reference -v counters)."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.job import main


@pytest.fixture(scope="module")
def slim_path(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    tpath, spath = str(root / "turns"), str(root / "slim")
    main(["gen", "-n", "2000", "-o", tpath])
    main(["parse", "-f", tpath, "-o", spath])
    return spath


def test_extract_grouped_json_document(slim_path, tmp_path):
    out = str(tmp_path / "by_tool.json")
    main(["extract", "-f", slim_path, "-o", out, "-g", "p",
          "--members", "--member-cap", "3", "-t", "json"])
    doc = json.load(open(out))  # must be VALID json (reference's isn't)
    assert doc["grouped_by"] == "podcast"
    # 20 tools + the malformed-row group (their key is the bare DJB2
    # seed 5381 = 0x1505 — the reference's NULL-key behavior)
    assert doc["total_groups"] == len(doc["groups"]) == 21
    assert "00001505" in doc["groups"]
    total = 0
    for key, g in doc["groups"].items():
        assert re.fullmatch(r"[0-9a-f]{8}", key), "F2: 8-hex group key"
        assert len(g["logs"]) <= 3, "member cap honored"
        assert g["count"] >= len(g["logs"])
        total += g["count"]
        for m in g["logs"]:
            assert re.fullmatch(r"[0-9a-f]{8}", m["ip_hash"])
            assert re.fullmatch(
                r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", m["ts"]
            ), "F1 timestamp shape"
    assert total == 2000


def test_extract_grouped_json_golden(slim_path, tmp_path):
    """golden-file pin of the exported document for the deterministic
    fixture (VERDICT r1 #8)."""
    out = str(tmp_path / "by_day.json")
    main(["extract", "-f", slim_path, "-o", out, "-g", "t",
          "--members", "--member-cap", "2", "-t", "json"])
    golden_path = os.path.join(
        os.path.dirname(__file__), "..", "golden", "grouped_by_day.json"
    )
    got = json.load(open(out))
    want = json.load(open(golden_path))
    assert got == want


def test_run_verbose_writes_lineage(spark, tmp_path, capsys):
    troot = str(tmp_path / "turns")
    out = str(tmp_path / "out")
    main(["gen", "-n", "1000", "-o", troot])
    main(["run", "-f", troot, "-o", out, "--run-id", "r1", "-v"])
    printed = capsys.readouterr().out
    assert "lineage (partition, rows, approx_bytes):" in printed
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    rows = lin.agg({"rows": "sum"}).collect()[0][0]
    assert rows == 1000, "lineage row counts must cover every slim row"


def test_grouped_export_json_max_groups_guard(spark):
    """VERDICT r2 #6: the driver-materialized export must refuse
    unbounded group counts instead of OOMing the driver."""
    from s3_log_parser_spark.operators.aggregate import grouped_export_json

    df = spark.range(100).withColumn("k", F.col("id") % 50)
    with pytest.raises(ValueError, match="max_groups"):
        grouped_export_json(df, "k", "fifty_groups", max_groups=10)
    # raising the cap succeeds
    doc = json.loads(
        grouped_export_json(df, "k", "fifty_groups", max_groups=50)
    )
    assert doc["total_groups"] == 50


def test_grouped_export_reserved_column_collision(spark):
    """Working columns must not silently collide with input columns."""
    from s3_log_parser_spark.operators.aggregate import grouped_export

    df = spark.range(10).withColumn("__s3lp_rn__", F.lit(1))
    with pytest.raises(ValueError, match="reserved working column"):
        grouped_export(df, "id", max_rows_per_group=2)


def test_prep_cli_model_filter(spark, tmp_path):
    """`prep --model-filter` engages the distilled quality model from
    the CLI (VERDICT r5 next #5): the model-filtered clean corpus is
    exactly the unfiltered one minus docs the model labels low-quality."""
    docs_path = "/root/testdata/sf0.001/documents.parquet"
    base_out = str(tmp_path / "base")
    model_out = str(tmp_path / "model")
    main(["--cores", "4", "prep", "-f", docs_path, "-o", base_out])
    main(["--cores", "4", "prep", "-f", docs_path, "-o", model_out,
          "--model-filter"])
    base = spark.read.parquet(f"{base_out}/clean")
    filt = spark.read.parquet(f"{model_out}/clean")
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    filt_ids = {r["doc_id"] for r in filt.select("doc_id").collect()}
    assert filt_ids <= base_ids
    # the filtered-out set is exactly the model-negative slice
    from s3_log_parser_spark.functions.classify import quality_model_label

    labels = {
        r["doc_id"]: r["keep"]
        for r in base.select(
            "doc_id", quality_model_label("text").alias("keep")
        ).collect()
    }
    assert filt_ids == {i for i in base_ids if labels[i]}
    assert len(filt_ids) < len(base_ids)  # the model actually cuts
    # stats table reflects the filtered corpus
    stats = spark.read.parquet(f"{model_out}/stats")
    assert stats.agg(F.sum("n_docs")).collect()[0][0] == len(filt_ids)


def test_prep_cli_line_dedup_keeps_line_whose_hash_collides(spark, tmp_path):
    """`prep --line-dedup` drops a line only when that exact line recurs
    across docs: the unique line 'aB' survives next to the boilerplate
    line 'b!' (in 2 docs), although the two have the same 32-bit DJB2
    value."""
    from s3_log_parser_spark.functions.hashes import djb2_py

    assert djb2_py("aB") == djb2_py("b!")
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (0, "b!\naB\nharbor ferries leave early on winter mornings", "s"),
            (1, "b!\nglacier caves glow blue under thick spring ice", "s"),
        ],
        "doc_id long, text string, source string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "prep")
    main(["--cores", "4", "prep", "-f", docs_path, "-o", out,
          "--line-dedup", "--min-tokens", "0", "--min-distinct-ratio", "0"])
    clean = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{out}/clean").collect()
    }
    assert clean[0].split("\n") == [
        "aB", "harbor ferries leave early on winter mornings"
    ]
    assert clean[1] == "glacier caves glow blue under thick spring ice"


def test_ingest_cli_two_batches(spark, tmp_path):
    """`job.py ingest` runs the whole daily loop from the CLI
    (VERDICT r5 next #6): batch 1 bootstraps the index and is
    accepted; batch 2's duplicates of batch 1 are dropped against the
    persisted index while its new docs land; a third run with no new
    files is a checkpointed no-op."""
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "ingested")
    idx = str(tmp_path / "index")

    def write_docs(rows, name):
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    b1 = [(i, "s0", f"unique document number {i} body " + "x " * i)
          for i in range(10)]
    write_docs(b1, "b1")
    argv = ["--cores", "4", "ingest", "-f", in_dir, "-o", out,
            "--index", idx, "--audit", "--sketches"]
    main(argv)
    acc1 = spark.read.parquet(f"{out}/accepted")
    assert acc1.count() == 10

    # batch 2: 3 exact dups of batch 1 + 5 new docs
    b2 = [(100 + i, "s1", f"unique document number {i} body " + "x " * i)
          for i in range(3)]
    b2 += [(200 + i, "s1", f"fresh second batch doc {i} content " + "y " * i)
           for i in range(5)]
    write_docs(b2, "b2")
    main(argv)
    acc2 = spark.read.parquet(f"{out}/accepted")
    ids = sorted(r["doc_id"] for r in acc2.select("doc_id").collect())
    assert ids == sorted([r[0] for r in b1] + [200, 201, 202, 203, 204])

    # audit trail exists per batch; sketch tables persisted
    audits = spark.read.parquet(f"{out}/audit")
    assert audits.select("_batch").distinct().count() == 2
    assert spark.read.parquet(f"{out}/sketches/hll_docs").count() > 0
    assert spark.read.parquet(f"{out}/sketches/cms_sources").count() > 0

    # no new files -> no-op (accepted set unchanged)
    main(argv)
    acc3 = spark.read.parquet(f"{out}/accepted")
    assert acc3.count() == acc2.count()


def test_ingest_cli_all_rejected_reports_zero(spark, tmp_path, capsys):
    """a run whose every doc fails the audit gate (skip mode) leaves no
    accepted/ parquet; the CLI must report 0 accepted docs instead of
    crashing on the read-back (ADVICE r6)."""
    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "ingested")
    idx = str(tmp_path / "index")
    spark.createDataFrame(
        [(None, "s0", None), (None, "s0", None)],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(in_dir)
    main(
        ["--cores", "4", "ingest", "-f", in_dir, "-o", out,
         "--index", idx, "--audit", "--on-audit-fail", "skip",
         "--sketches"]
    )
    assert "total accepted: 0 docs across 0 batches" in capsys.readouterr().out


def test_ingest_cli_file_uri_output_and_index(spark, tmp_path, capsys):
    """`-o` and `--index` given as ``file://`` URIs: the second run
    finds the persisted index instead of bootstrapping an empty one, so
    batch 2's exact duplicates of batch 1 are dropped, and the totals
    line counts the accepted docs of both batches."""
    in_dir = str(tmp_path / "incoming")
    out = "file://" + str(tmp_path / "ingested")
    idx = "file://" + str(tmp_path / "index")
    argv = ["--cores", "4", "ingest", "-f", in_dir, "-o", out, "--index", idx]

    def land(rows):
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    b1 = [(i, "s0", f"unique document number {i} body " + "x " * i)
          for i in range(10)]
    land(b1)
    main(argv)
    assert "bootstrapped" in capsys.readouterr().out

    land([(100 + i, "s1", f"unique document number {i} body " + "x " * i)
          for i in range(3)]
         + [(200 + i, "s1", f"fresh second batch doc {i} content " + "y " * i)
            for i in range(5)])
    main(argv)
    printed = capsys.readouterr().out
    assert "bootstrapped" not in printed
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect()
    )
    assert ids == [i for i in range(10)] + [200, 201, 202, 203, 204]
    assert "total accepted: 15 docs across 2 batches" in printed


def test_diff_cli_statuses_and_partitioned_sink(spark, tmp_path, capsys):
    old_p = str(tmp_path / "old")
    new_p = str(tmp_path / "new")
    out = str(tmp_path / "diff")
    spark.createDataFrame(
        [(1, "alpha"), (2, "bravo"), (3, "charlie")],
        "doc_id long, text string",
    ).write.parquet(old_p)
    spark.createDataFrame(
        [(1, "alpha"), (2, "bravo EDITED"), (9, "echo")],
        "doc_id long, text string",
    ).write.parquet(new_p)
    main(["--cores", "4", "diff", "-a", old_p, "-b", new_p, "-o", out])
    printed = capsys.readouterr().out
    assert "added      1" in printed
    assert "changed    1" in printed
    assert "removed    1" in printed
    assert "unchanged  1" in printed
    back = spark.read.parquet(out)
    got = {r["id"]: r["status"] for r in back.collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 9: "added"}
    # status-partitioned layout: a status filter prunes at the scan
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("status=")
    ) == ["status=added", "status=changed", "status=removed",
          "status=unchanged"]


def test_prep_cli_gopher_filter(spark, tmp_path):
    """`prep --gopher` composes the full published Gopher suite into
    the prep DAG: the filtered clean corpus is exactly the unfiltered
    one minus docs failing any A1.1 rule or A1.2 repetition rule."""
    docs_path = "/root/testdata/sf0.001/documents.parquet"
    base_out = str(tmp_path / "base")
    g_out = str(tmp_path / "gopher")
    main(["--cores", "4", "prep", "-f", docs_path, "-o", base_out])
    main(["--cores", "4", "prep", "-f", docs_path, "-o", g_out,
          "--gopher"])
    base = spark.read.parquet(f"{base_out}/clean")
    filt = spark.read.parquet(f"{g_out}/clean")
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    filt_ids = {r["doc_id"] for r in filt.select("doc_id").collect()}
    assert filt_ids <= base_ids
    from s3_log_parser_spark.functions.text import (
        gopher_pass,
        gopher_repetition_flags,
    )

    keep = {
        r["doc_id"]: r["k"]
        for r in base.select(
            "doc_id",
            (
                gopher_pass("text")
                & gopher_repetition_flags("text")["repetition_pass"]
            ).alias("k"),
        ).collect()
    }
    assert filt_ids == {i for i in base_ids if keep[i]}


def test_profile_cli_prints_data_card(spark, tmp_path, capsys):
    out = str(tmp_path / "prof")
    main(["--cores", "4", "profile",
          "-f", "/root/testdata/sf0.001/documents.parquet", "-o", out])
    printed = capsys.readouterr().out.strip().splitlines()
    assert printed[0].split("\t")[0] == "source"
    body = [ln.split("\t") for ln in printed[1:]]
    assert len(body) >= 2  # multiple sources in the fixture corpus
    # per-source invariants: n_unique <= n_docs, min <= max tokens
    for row in body:
        vals = dict(zip(printed[0].split("\t"), row))
        assert int(vals["n_unique"]) <= int(vals["n_docs"])
        assert int(vals["min_tokens"]) <= int(vals["max_tokens"])
    # the parquet sink round-trips the same rows
    back = spark.read.parquet(out)
    assert back.count() == len(body)
