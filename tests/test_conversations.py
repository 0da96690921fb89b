"""Conversation-grain analytics: per-conv feature counts, the
turn-index contiguity invariant, span arithmetic, and role-transition
bigrams (first turn excluded)."""

import datetime

from pyspark.sql import functions as F

from s3_log_parser_spark.operators.conversations import (
    conv_stats,
    role_transitions,
)


def _turns(spark):
    t0 = datetime.datetime(2025, 6, 1, 12, 0, 0)
    s = lambda sec: t0 + datetime.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # conv a: contiguous 0..3, two tool calls, 90 s span
        ("a", 0, "user", None, s(0)),
        ("a", 1, "assistant", "search", s(30)),
        ("a", 2, "assistant", "search", s(60)),
        ("a", 3, "user", None, s(90)),
        # conv b: gap in turn_idx (1 missing) → not contiguous
        ("b", 0, "user", None, s(0)),
        ("b", 2, "assistant", "edit", s(5)),
        # conv c: duplicate turn_idx → not contiguous
        ("c", 0, "system", None, s(0)),
        ("c", 0, "user", None, s(1)),
        ("c", 1, "assistant", None, s(2)),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "ts timestamp",
    )


def test_conv_stats_features(spark):
    got = {r["conv_id"]: r.asDict() for r in conv_stats(_turns(spark)).collect()}
    a = got["a"]
    assert (a["n_turns"], a["n_user"], a["n_assistant"], a["n_system"]) == (
        4, 2, 2, 0,
    )
    assert (a["n_tool_calls"], a["n_tools"]) == (2, 1)
    assert a["span_sec"] == 90
    assert (a["max_turn_idx"], a["turn_idx_contiguous"]) == (3, 1)
    assert got["b"]["turn_idx_contiguous"] == 0  # gap
    assert got["c"]["turn_idx_contiguous"] == 0  # duplicate idx
    assert got["c"]["n_tool_calls"] == 0 and got["c"]["n_tools"] == 0


def test_conv_stats_role_columns_cover_generated_turns(spark):
    """every generated turn lands in exactly one ``n_<role>`` column:
    the generator's roles (schemas.ROLES) are all counted."""
    from s3_log_parser_spark.operators.conversations import COUNTED_ROLES
    from s3_log_parser_spark.sources.gen import gen_transcripts

    stats = conv_stats(gen_transcripts(spark, rows=2000))
    n_roles = sum(F.col(f"n_{r}") for r in COUNTED_ROLES)
    assert stats.filter(n_roles != F.col("n_turns")).count() == 0


def test_conv_stats_one_aggregate_no_window(spark, tmp_path):
    import io
    import re
    from contextlib import redirect_stdout

    path = str(tmp_path / "t")
    _turns(spark).write.parquet(path)
    rep = conv_stats(spark.read.parquet(path))
    buf = io.StringIO()
    with redirect_stdout(buf):
        rep.explain("formatted")
    plan = buf.getvalue()
    assert len(set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))) == 1
    assert "Window" not in plan and "Join" not in plan
    assert "Python" not in plan


def test_role_transitions_bigrams(spark):
    # conv c carries a duplicate turn_idx (deliberately, for the
    # contiguity test) which makes ITS lag order nondeterministic —
    # bigram assertions use only the tie-free conversations a and b
    tie_free = _turns(spark).filter(F.col("conv_id") != "c")
    got = {
        (r["from_role"], r["to_role"]): r["n"]
        for r in role_transitions(tie_free).collect()
    }
    # conv a: u→a, a→a, a→u; conv b: u→a
    assert got == {
        ("user", "assistant"): 2,
        ("assistant", "assistant"): 1,
        ("assistant", "user"): 1,
    }


def test_role_transitions_single_turn_conv_excluded(spark):
    df = spark.createDataFrame(
        [("solo", 0, "user", None, datetime.datetime(2025, 1, 1))],
        "conv_id string, turn_idx long, role string, tool string, "
        "ts timestamp",
    )
    assert role_transitions(df).isEmpty()


def test_tool_cooccurrence_pairs(spark):
    from s3_log_parser_spark.operators.conversations import (
        tool_cooccurrence,
    )

    rows = [
        ("a", "search"), ("a", "search"), ("a", "edit"),  # dup call
        ("b", "search"), ("b", "edit"), ("b", "browse"),
        ("c", "edit"),                                    # solo tool
        ("d", None),                                      # no tools
    ]
    df = spark.createDataFrame(rows, "conv_id string, tool string")
    got = {
        (r["tool_a"], r["tool_b"]): r["n_convs"]
        for r in tool_cooccurrence(df).collect()
    }
    # repeated calls in one conv count once; pairs unordered, no self
    assert got == {
        ("edit", "search"): 2,
        ("browse", "edit"): 1,
        ("browse", "search"): 1,
    }


# ---------------------------------------------------------------------------
# structural conversation dedup
# ---------------------------------------------------------------------------


def _dup_turns(spark):
    t0 = datetime.datetime(2025, 6, 1, 12, 0, 0)
    s = lambda sec: t0 + datetime.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # convs x and y: identical role:tool structure (different times)
        ("x", 0, "user", None, s(0)),
        ("x", 1, "assistant", "search", s(10)),
        ("x", 2, "user", None, s(20)),
        ("y", 0, "user", None, s(100)),
        ("y", 1, "assistant", "search", s(110)),
        ("y", 2, "user", None, s(120)),
        # conv z: same roles, different tool → distinct structure
        ("z", 0, "user", None, s(0)),
        ("z", 1, "assistant", "edit", s(10)),
        ("z", 2, "user", None, s(20)),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "ts timestamp",
    )


def test_conv_signature_restores_turn_order(spark):
    from s3_log_parser_spark.operators.conversations import conv_signature

    # feed rows deliberately OUT of turn order
    rows = [
        ("a", 2, "user", None),
        ("a", 0, "system", "boot"),
        ("a", 1, "assistant", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, tool string"
    )
    got = conv_signature(df).collect()[0]
    assert got["sig"] == "6:system4:boot|9:assistant0:|4:user0:"
    assert got["n_turns"] == 3


def test_conv_dedup_separator_in_tool_name_does_not_collide(spark):
    # one turn whose tool name spells out a second turn under a
    # ``role:tool|role:tool`` join must not match a real two-turn conv
    from s3_log_parser_spark.operators.conversations import conv_dedup

    rows = [
        ("p", 0, "user", "x|user:y"),
        ("q", 0, "user", "x"),
        ("q", 1, "user", "y"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, role string, tool string"
    )
    got = {r["conv_id"]: r for r in conv_dedup(df).collect()}
    assert got["p"]["sig"] != got["q"]["sig"]
    assert got["p"]["group_size"] == 1 and got["q"]["group_size"] == 1
    assert got["p"]["keep"] and got["q"]["keep"]


def test_conv_dedup_flags_and_winner(spark):
    from s3_log_parser_spark.operators.conversations import conv_dedup

    got = {r["conv_id"]: r.asDict() for r in conv_dedup(_dup_turns(spark)).collect()}
    assert got["x"]["group_size"] == 2 and got["y"]["group_size"] == 2
    assert got["z"]["group_size"] == 1
    # min conv_id wins its group, deterministically
    assert got["x"]["keep"] is True
    assert got["y"]["keep"] is False
    assert got["z"]["keep"] is True
    assert got["x"]["sig"] == got["y"]["sig"] != got["z"]["sig"]


def test_conv_examples_assembles_in_turn_order(spark):
    from s3_log_parser_spark.operators.conversations import conv_examples

    # feed turns OUT of order: assembly must restore turn_idx order
    rows = [
        ("a", 2, "user", None, "third"),
        ("a", 0, "user", None, "first"),
        ("a", 1, "assistant", "search", "second"),
        ("b", 0, "system", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "text string",
    )
    got = {r["conv_id"]: r for r in conv_examples(df).collect()}
    a = got["a"]
    assert a["n_turns"] == 3
    assert [m["text"] for m in a["messages"]] == ["first", "second", "third"]
    assert [m["role"] for m in a["messages"]] == ["user", "assistant", "user"]
    assert a["messages"][1]["tool"] == "search"
    assert a["total_chars"] == len("firstsecondthird")
    # NULL text counts 0 chars and survives as null in the struct
    b = got["b"]
    assert b["total_chars"] == 0 and b["messages"][0]["text"] is None


def test_conv_examples_gates_drop_whole_conversations(spark):
    from s3_log_parser_spark.operators.conversations import conv_examples

    rows = [("a", i, "user", None, "x" * 10) for i in range(5)] + [
        ("b", 0, "user", None, "y" * 100)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "text string",
    )
    assert {
        r["conv_id"] for r in conv_examples(df, max_turns=4).collect()
    } == {"b"}
    assert {
        r["conv_id"] for r in conv_examples(df, max_chars=50).collect()
    } == {"a"}


def test_conv_examples_write_json_is_sft_jsonl(spark, tmp_path):
    import json
    import os

    from s3_log_parser_spark.operators.conversations import conv_examples

    rows = [
        ("a", 0, "user", None, "hi"),
        ("a", 1, "assistant", "search", "hello"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, tool string, "
        "text string",
    )
    out = str(tmp_path / "sft")
    conv_examples(df).coalesce(1).write.json(out)
    part = next(
        f for f in os.listdir(out) if f.startswith("part-") and
        f.endswith(".json")
    )
    lines = [
        json.loads(ln)
        for ln in open(os.path.join(out, part))
        if ln.strip()
    ]
    assert len(lines) == 1
    ex = lines[0]
    assert ex["conv_id"] == "a" and ex["n_turns"] == 2
    assert ex["messages"][0] == {"role": "user", "text": "hi"}
    assert ex["messages"][1] == {
        "role": "assistant", "text": "hello", "tool": "search"
    }
