"""Property-based fuzz of the grok bank (north_rule byte-exact
round-trip on arbitrary well-formed lines; graceful status on junk).

Strategy mirrors the reference's field domains: bare tokens are any
non-space printable runs, quoted fields any non-quote runs, the
timestamp bracket any non-']' run. Hypothesis drives the value space;
Spark parses a whole batch at once (one session job per test, not per
example)."""

import string

from hypothesis import given, settings, strategies as st

from s3_log_parser_spark.functions.parsing import (
    parse_text_sql,
    reassemble_text,
)

BARE = st.text(
    alphabet=[c for c in string.printable if c not in " \t\n\r\x0b\x0c"],
    min_size=1,
    max_size=12,
)
QUOTED = st.text(
    alphabet=[c for c in string.printable if c not in '"\n\r\x0b\x0c'],
    min_size=0,
    max_size=20,
)
BRACKET = st.text(
    alphabet=[c for c in string.printable if c not in "]\n\r\x0b\x0c"],
    min_size=1,
    max_size=26,
)


@st.composite
def log_line(draw):
    f = {}
    bare_fields = [
        "owner", "bucket", "remote_ip", "requester", "req_id", "operation",
        "key", "error_code", "version_id", "host_id", "sig_version",
        "cipher", "auth_type", "host_header", "tls_version",
        "access_point_arn", "acl_required",
    ]
    for n in bare_fields:
        f[n] = draw(BARE)
    # numeric fields carry digits — the parse pipeline types them, so
    # non-numeric junk there is inherently lossy (typed-cast → NULL;
    # the reference's fast_atol is equally lossy, src/s3lp.h:170-191)
    f["http_code"] = str(draw(st.integers(0, 999)))
    f["bytes_sent"] = str(draw(st.integers(0, 2**40)))
    f["object_size"] = str(draw(st.integers(0, 2**40)))
    f["total_time_ms"] = str(draw(st.integers(0, 10**6)))
    f["turnaround_ms"] = str(draw(st.integers(0, 10**6)))
    ts = draw(BRACKET)
    uri = draw(QUOTED)
    referrer = draw(QUOTED)
    ua = draw(QUOTED)
    has_range = draw(st.booleans())
    rng = draw(QUOTED) if has_range else None
    line = (
        f"{f['owner']} {f['bucket']} [{ts}] {f['remote_ip']} {f['requester']} "
        f"{f['req_id']} {f['operation']} {f['key']} \"{uri}\" {f['http_code']} "
        f"{f['error_code']} {f['bytes_sent']} {f['object_size']} "
        f"{f['total_time_ms']} {f['turnaround_ms']} \"{referrer}\" \"{ua}\" "
        f"{f['version_id']} {f['host_id']} {f['sig_version']} {f['cipher']} "
        f"{f['auth_type']} {f['host_header']} {f['tls_version']} "
        f"{f['access_point_arn']} {f['acl_required']}"
    )
    if rng is not None:
        line += f' "{rng}"'
    return line


@settings(max_examples=60, deadline=None)
@given(st.lists(log_line(), min_size=1, max_size=8))
def _collect_lines(acc, lines):  # pragma: no cover - helper shape
    acc.extend(lines)


def test_roundtrip_on_fuzzed_wellformed_lines(spark):
    # draw a corpus up front, run ONE Spark job over it
    lines: list[str] = []

    @settings(max_examples=120, deadline=None)
    @given(log_line())
    def gather(line):
        lines.append(line)

    gather()
    df = spark.createDataFrame([(l,) for l in lines], "text string")
    parsed = parse_text_sql(df)
    from pyspark.sql import functions as F

    out = parsed.select(
        "text",
        "parse_status",
        reassemble_text(F.col("parsed")).alias("rebuilt"),
    ).collect()
    for r in out:
        # every well-formed line must round-trip byte-exact
        # (bad_time is fine — ts bracket content is arbitrary — but the
        # structure must still reassemble)
        assert r["parse_status"] in ("ok", "bad_time")
        assert r["rebuilt"] == r["text"], r["text"]


def test_junk_lines_never_crash(spark):
    junk = [
        "", " ", "a", "a b", '"""', "[", "]" * 50, "\x00\x01", "x " * 30,
        "a b [c] d e f g h",  # too few fields
    ]
    df = spark.createDataFrame([(j,) for j in junk], "text string")
    got = parse_text_sql(df).select("parse_status").collect()
    assert all(r["parse_status"] == "bad_format" for r in got)


def test_three_parser_slim_equality_on_fuzzed_lines(spark):
    """hypothesis-driven parser equality (ADVICE r3 #1 hardening): the
    Arrow positional kernel and the SQL reference parse (Catalyst
    regexp_extract + djb2_expr) must produce identical slim rows for
    arbitrary grammar-legal lines — including brackets with 0..4
    space-separated tokens and junk/valid offset spellings. Scope
    matches the kernels' documented assumption: no '"' inside unquoted
    fields or the timestamp bracket (real S3 logs URL-encode them); and
    the alphabet is ASCII, where djb2_expr's codepoint fold equals the
    byte hash (non-ASCII hashing of the kernel is pinned by
    test_hashes::test_djb2_numpy_parity)."""
    from hypothesis import given, settings, strategies as st

    from s3_log_parser_spark.plans.pipeline import build_slim

    bare = st.text(
        alphabet=[
            c for c in string.printable if c not in ' \t\n\r\x0b\x0c"'
        ],
        min_size=1,
        max_size=10,
    )
    quoted = st.text(
        alphabet=[c for c in string.printable if c not in '"\n\r\x0b\x0c'],
        min_size=0,
        max_size=16,
    )
    brk_tok = st.text(
        alphabet=[
            c for c in string.printable if c not in ' \t\n\r\x0b\x0c"]'
        ],
        min_size=1,
        max_size=12,
    )
    offsets = st.sampled_from(
        ["+0000", "-0130", "+0530", "-2359", "junk", "0000", "+00x0"]
    )

    @st.composite
    def bracket(draw):
        kind = draw(st.integers(0, 3))
        if kind == 0:  # valid-ish two-token timestamp
            d = draw(st.integers(1, 28))
            return f"{d:02d}/May/2025:10:20:30 {draw(offsets)}"
        if kind == 1:  # one token
            return draw(brk_tok)
        if kind == 2:  # valid date + extra tokens
            n = draw(st.integers(1, 3))
            toks = " ".join(draw(brk_tok) for _ in range(n))
            return f"03/May/2025:10:20:30 +0000 {toks}"
        n = draw(st.integers(2, 4))  # n junk tokens
        return " ".join(draw(brk_tok) for _ in range(n))

    @st.composite
    def line(draw):
        bf = [draw(bare) for _ in range(17)]
        nums = [str(draw(st.integers(0, 10**6))) for _ in range(5)]
        ts = draw(bracket())
        uri, ref, ua = draw(quoted), draw(quoted), draw(quoted)
        core = (
            f"{bf[0]} {bf[1]} [{ts}] {bf[2]} {bf[3]} {bf[4]} {bf[5]} "
            f'{bf[6]} "{uri}" {nums[0]} {bf[7]} {nums[1]} {nums[2]} '
            f'{nums[3]} {nums[4]} "{ref}" "{ua}" {bf[8]} {bf[9]} '
            f"{bf[10]} {bf[11]} {bf[12]} {bf[13]} {bf[14]} {bf[15]} {bf[16]}"
        )
        if draw(st.booleans()):
            core += ' "bytes=0-1023"'
        return core

    lines: list[str] = []

    @settings(max_examples=120, deadline=None)
    @given(line())
    def gather(ln):
        lines.append(ln)

    gather()
    rows = [("c", i, "assistant", ln, "t", None) for i, ln in enumerate(lines)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    arrow = build_slim(df)
    sql = build_slim(df, use_sql_parser=True)
    assert arrow.exceptAll(sql).isEmpty()
    assert sql.exceptAll(arrow).isEmpty()
