"""Single-pass data-quality audit: per-check failure counts, ratio
budgets, exact uniqueness, referential integrity and the one-scan plan
pin."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.audit import (
    accepted_values,
    audit,
    foreign_key,
    in_range,
    matches,
    not_null,
    unique,
)


def _frame(spark):
    rows = [
        # (id, code, tool, ip)
        (1, 200, "search", "10.0.0.1"),
        (2, 404, "search", "10.0.0.2"),
        (3, None, "edit", "10.0.0.3"),      # null code
        (4, 999, "edit", "not-an-ip"),      # out of range + bad format
        (5, 200, "unknown-tool", "10.0.0.5"),  # unaccepted value
        (5, 200, "search", "10.0.0.6"),     # duplicate id
    ]
    return spark.createDataFrame(
        rows, "id int, code int, tool string, ip string"
    )


def _report_dict(report):
    return {
        r["check"]: (r["failed"], r["total"], r["passed"])
        for r in report.collect()
    }


def test_audit_counts_every_check_kind(spark):
    df = _frame(spark)
    rep = _report_dict(
        audit(
            df,
            [
                not_null("code"),
                in_range("code", 100, 599),
                accepted_values("tool", ["search", "edit"]),
                matches("ip", r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$"),
                unique("id"),
            ],
        )
    )
    assert rep["not_null(code)"] == (1, 6, False)
    assert rep["in_range(code,100,599)"] == (1, 6, False)
    assert rep["accepted_values(tool)"] == (1, 6, False)
    assert rep["matches(ip)"] == (1, 6, False)
    assert rep["unique(id)"] == (1, 6, False)


def test_audit_all_green_on_clean_data(spark):
    df = _frame(spark).filter(F.col("id") <= 2)
    rep = audit(
        df,
        [not_null("code", "tool"), in_range("code", 100, 599), unique("id")],
    )
    assert rep.filter(~F.col("passed")).isEmpty()


def test_ratio_budget_passes_small_failure_share(spark):
    # 1 bad row in 1000: a 2-per-mille budget passes, a 0 budget fails
    df = spark.range(1000).select(
        F.when(F.col("id") == 0, None).otherwise(F.col("id")).alias("v")
    )
    ok = _report_dict(
        audit(df, [in_range("v", 0, 2000), not_null("v")])
    )
    assert ok["in_range(v,0,2000)"] == (0, 1000, True)
    assert ok["not_null(v)"] == (1, 1000, False)
    budget = _report_dict(
        audit(df, [matches_null_budget := _null_ratio_check()])
    )
    assert budget[matches_null_budget.name] == (1, 1000, True)


def _null_ratio_check():
    from s3_log_parser_spark.operators.audit import Check

    return Check(
        name="null_ratio(v)",
        fail_expr=F.col("v").isNull(),
        max_failed_ratio_x1000=2,
    )


def test_unique_ignores_null_keys(spark):
    # 2 null keys + one real duplicate: uniqueness reports ONLY the
    # duplicate (null detection is not_null's job, and count_distinct
    # skips nulls — counting all rows would call every null a dup)
    df = spark.createDataFrame(
        [(None,), (None,), (1,), (1,), (2,)], "k int"
    )
    rep = _report_dict(audit(df, [unique("k"), not_null("k")]))
    assert rep["unique(k)"] == (1, 5, False)
    assert rep["not_null(k)"] == (2, 5, False)


def test_audit_is_one_scan_however_many_checks(spark, tmp_path):
    path = str(tmp_path / "t")
    _frame(spark).write.parquet(path)
    df = spark.read.parquet(path)
    rep = audit(
        df,
        [
            not_null("code"),
            in_range("code", 100, 599),
            accepted_values("tool", ["search", "edit"]),
            matches("ip", r"^[0-9.]+$"),
            unique("id"),
        ],
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        rep.explain("formatted")
    plan = buf.getvalue()
    scans = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scans) == 1
    assert "Python" not in plan


def test_foreign_key_orphans_and_broadcast(spark):
    fact = _frame(spark)
    dim = spark.createDataFrame(
        [("search",), ("edit",)], "tool_name string"
    )
    rep = foreign_key(fact, "tool", dim, "tool_name")
    # explain BEFORE the action: the post-collect AQE explain shows
    # both the initial and final trees, double-counting scan ids
    buf = io.StringIO()
    with redirect_stdout(buf):
        rep.explain("formatted")
    plan = buf.getvalue()
    row = rep.collect()[0]
    assert (row["check"], row["failed"], row["total"], row["passed"]) == (
        "foreign_key(tool)", 1, 6, False,
    )
    # one pass: broadcast LEFT join marks orphans, a single aggregate
    # computes failed+total — no anti-join second scan of the fact
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan
    scans = set(re.findall(r"Scan ExistingRDD\s*\((\d+)\)", plan))
    assert len(scans) == 2  # fact + dim, each exactly once


def test_duplicate_check_names_rejected(spark):
    with pytest.raises(ValueError, match="duplicate"):
        audit(_frame(spark), [not_null("code"), not_null("code")])
