"""Corpus snapshot diff (operators/versioning.py)."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.versioning import (
    corpus_diff,
    corpus_diff_stats,
    snapshot_digest,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_diff_all_four_statuses(spark):
    old = _docs(
        spark,
        [(1, "alpha"), (2, "bravo"), (3, "charlie"), (4, "delta")],
    )
    new = _docs(
        spark,
        [(1, "alpha"), (2, "bravo EDITED"), (4, "delta"), (9, "echo")],
    )
    got = {
        r["id"]: r["status"]
        for r in corpus_diff(old, new).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        9: "added",
    }


def test_diff_normalization_matches_exact_dedup_key(spark):
    # whitespace/case-only edits are NOT "changed" under normalize=True
    # (the exact-dedup canonical key), but ARE under normalize=False
    old = _docs(spark, [(1, "Hello World")])
    new = _docs(spark, [(1, "  hello world ")])
    (norm,) = corpus_diff(old, new).collect()
    assert norm["status"] == "unchanged"
    (raw,) = corpus_diff(old, new, normalize=False).collect()
    assert raw["status"] == "changed"


def test_diff_null_text_digests_as_empty(spark):
    old = _docs(spark, [(1, None)])
    new = _docs(spark, [(1, "")])
    (r,) = corpus_diff(old, new).collect()
    assert r["status"] == "unchanged"
    assert r["old_dig"] == r["new_dig"] is not None


def test_diff_stats(spark):
    old = _docs(spark, [(i, f"doc {i}") for i in range(10)])
    new = _docs(
        spark,
        [(i, f"doc {i}" + (" v2" if i % 3 == 0 else "")) for i in range(8)]
        + [(100, "new one"), (101, "new two")],
    )
    got = {
        r["status"]: r["n"]
        for r in corpus_diff_stats(corpus_diff(old, new)).collect()
    }
    # ids 0..7 survive: 0,3,6 changed (3), rest unchanged (5);
    # 8,9 removed; 100,101 added
    assert got == {"changed": 3, "unchanged": 5, "removed": 2, "added": 2}


def test_diff_duplicate_id_raises(spark):
    old = _docs(spark, [(1, "a"), (1, "b")])
    new = _docs(spark, [(1, "a")])
    with pytest.raises(Exception, match="duplicate id"):
        corpus_diff(old, new).collect()


def test_snapshot_digest_is_md5_of_canonical_text(spark):
    import hashlib

    (r,) = snapshot_digest(_docs(spark, [(7, "  MiXeD Case ")])).collect()
    assert r["dig"] == hashlib.md5(b"mixed case").hexdigest()


def test_diff_plan_has_no_join_one_exchange(spark):
    # the scale claim: one tagged-union aggregate over ONE exchange, no
    # join operator (max(string) buffers make it a SortAggregate — the
    # same sort a merge-join would pay, minus the second shuffle)
    import io
    from contextlib import redirect_stdout

    old = _docs(spark, [(1, "a")])
    new = _docs(spark, [(1, "a")])
    buf = io.StringIO()
    with redirect_stdout(buf):
        corpus_diff(old, new).explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan
    assert "Aggregate" in plan
    assert "Union" in plan
    assert plan.count("+- Exchange") == 1
