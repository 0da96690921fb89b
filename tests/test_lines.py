"""Line-level (boilerplate) dedup: operators/lines.py."""

import pytest

from s3_log_parser_spark.operators.lines import line_dedup

BOILER = "accept cookies to continue"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, f"{BOILER}\nunique zero alpha\nok\nunique zero beta"),
        (1, f"unique one alpha\n{BOILER}\nunique one beta"),
        (2, f"unique two alpha\n\n{BOILER}"),
        (3, "unique three alpha\nunique three beta"),
        (4, BOILER),  # nothing but boilerplate
        (5, f"ok\nunique five alpha"),  # shares only the short line
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_drops_cross_doc_lines_keeps_order(spark, docs):
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert len(out) == 6  # every input doc survives as a row
    # the boilerplate line (4 docs) and the short shared line 'ok'
    # (2 docs, but >= min_chars) are dropped everywhere; survivors keep
    # their original order
    assert out[0]["text"] == "unique zero alpha\nunique zero beta"
    assert out[0]["n_lines_kept"] == 2 and out[0]["n_lines_dropped"] == 2
    assert out[1]["text"] == "unique one alpha\nunique one beta"
    # the empty line in doc 2 is exempt (min_chars=1) and kept
    assert out[2]["text"] == "unique two alpha\n"
    assert out[2]["n_lines_kept"] == 2 and out[2]["n_lines_dropped"] == 1
    # no shared lines -> untouched
    assert out[3]["text"] == "unique three alpha\nunique three beta"
    assert out[3]["n_lines_dropped"] == 0
    # all-boilerplate doc survives with empty text, kept = 0
    assert out[4]["text"] == "" and out[4]["n_lines_kept"] == 0
    assert out[4]["n_lines_dropped"] == 1
    assert out[5]["text"] == "unique five alpha"


def test_line_dedup_max_docs_and_min_chars(spark, docs):
    # max_docs=4: even the boilerplate (4 docs) is within tolerance
    out4 = {r["doc_id"]: r for r in line_dedup(docs, max_docs=4).collect()}
    assert out4[4]["text"] == BOILER
    # 'ok' (2 docs) survives a min_chars above its length
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, min_chars=3).collect()
    }
    assert out[0]["text"] == "unique zero alpha\nok\nunique zero beta"
    assert out[5]["text"] == "ok\nunique five alpha"


def test_line_dedup_roundtrip_when_no_duplicates(spark):
    """a corpus with all-unique lines passes through byte-identical —
    pins the split/reassemble pair (ordering, delimiter, no trimming)."""
    rows = [(i, f"line a {i}\nline b {i}\n line c {i} ") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in line_dedup(df).collect()}
    for i in range(20):
        assert out[i] == f"line a {i}\nline b {i}\n line c {i} "


def test_line_dedup_scan_counts(spark, docs, tmp_path):
    """the corpus is scanned exactly twice (the frequency pass and the
    rewrite pass — a frequency-based removal can't do better without
    materializing the exploded frame). The flag-join design keeps it
    there — the old anti-join + separate totals pass was three."""
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    stored = spark.read.parquet(p)
    plan = (
        line_dedup(stored)._jdf.queryExecution().executedPlan().toString()
    )
    # scans are distinguished by ReadSchema: the corpus reads
    # (doc_id, text)
    assert plan.count("struct<doc_id:bigint,text:string>") == 2, plan


def test_line_dedup_custom_delimiter_regex_escaped(spark):
    """delimiters are literal — a regex metacharacter like '|' must not
    be interpreted (F.split takes a pattern; the operator escapes it)."""
    rows = [(0, "shared|only zero"), (1, "shared|only one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup(df, delim="|").collect()
    }
    assert out == {0: "only zero", 1: "only one"}


def test_line_dedup_carry_cols(spark):
    """per-doc metadata named in carry_cols survives the reassembly
    (rides the explode, comes back via first()) — what the prep CLI
    needs to keep source/lang through the line-dedup pre-stage."""
    rows = [
        (0, "shared line\nmine zero", "en", "web"),
        (1, "shared line\nmine one", "de", "code"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(df, carry_cols=("lang", "source")).collect()
    }
    assert out[0]["text"] == "mine zero"
    assert out[0]["lang"] == "en" and out[0]["source"] == "web"
    assert out[1]["lang"] == "de" and out[1]["source"] == "code"
