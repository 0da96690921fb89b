"""P1/P2/P5/P6 + the north_rule's byte-exact text round-trip invariant."""

from pyspark.sql import functions as F

from s3_log_parser_spark.functions.parsing import (
    clamp_http_code,
    contains_pattern,
    parse_range,
    parse_text_sql,
    reassemble_text,
)


def test_round_trip_text_equality(spark, transcripts):
    """parse(text) → reassemble == text for every ok row, under stable
    (conv_id, turn_idx) ordering (north_rule per-row invariant)."""
    parsed = parse_text_sql(transcripts)
    ok = parsed.filter(F.col("parse_status") == "ok")
    bad = ok.withColumn("rebuilt", reassemble_text(F.col("parsed"))).filter(
        F.col("rebuilt") != F.col("text")
    )
    assert bad.count() == 0
    # ok rows dominate the fixture (only ~0.5% malformed)
    assert ok.count() > transcripts.count() * 0.98


def test_parse_status_classes(spark, transcripts):
    parsed = parse_text_sql(transcripts)
    classes = {
        r["parse_status"]: r["count"]
        for r in parsed.groupBy("parse_status").count().collect()
    }
    assert set(classes) == {"ok", "bad_format", "bad_time"}
    assert classes["ok"] > 0.98 * transcripts.count()


def test_parsed_fields_values(spark):
    line = (
        "own buck [03/May/2025:10:20:30 +0000] 1.2.3.4 - REQID REST.GET.OBJECT "
        '/show/ep.mp3 "GET /show/ep.mp3 HTTP/1.1" 206 - 1024 2048 77 42 "-" '
        '"Spotify/8.8 Android" v1 H1 SigV2 C A host.example.com TLSv1.2 arn false '
        '"bytes=0-1023"'
    )
    df = spark.createDataFrame([(line,)], "text string")
    r = parse_text_sql(df).select("parsed.*", "event_ts", "parse_status").collect()[0]
    assert r["owner"] == "own"
    assert r["remote_ip"] == "1.2.3.4"
    assert r["key"] == "/show/ep.mp3"
    assert r["request_uri"] == "GET /show/ep.mp3 HTTP/1.1"
    assert r["http_code"] == 206
    assert r["bytes_sent"] == 1024
    assert r["object_size"] == 2048
    assert r["total_time_ms"] == 77
    assert r["user_agent"] == "Spotify/8.8 Android"
    assert r["range_header"] == "bytes=0-1023"
    assert r["parse_status"] == "ok"
    assert str(r["event_ts"]) == "2025-05-03 10:20:30"


def test_empty_range_header_round_trips(spark):
    """a trailing '""' is an EMPTY range header, not a missing one: the
    SQL parse keeps it as '' so the line reassembles byte-exact (a
    missing group and an empty one both come back '' from
    regexp_extract)."""
    line = (
        "own buck [03/May/2025:10:20:30 +0000] 1.2.3.4 - REQID REST.GET.OBJECT "
        '/show/ep.mp3 "GET /show/ep.mp3 HTTP/1.1" 206 - 1024 2048 77 42 "-" '
        '"Spotify/8.8 Android" v1 H1 SigV2 C A host.example.com TLSv1.2 arn false '
        '""'
    )
    without = line.removesuffix(' ""')
    df = spark.createDataFrame([(line,), (without,)], "text string")
    rows = (
        parse_text_sql(df)
        .select(
            "text",
            "parse_status",
            F.col("parsed.range_header").alias("range_header"),
            reassemble_text(F.col("parsed")).alias("rebuilt"),
        )
        .collect()
    )
    got = {r["text"]: r for r in rows}
    assert got[line]["parse_status"] == "ok"
    assert got[line]["range_header"] == ""
    assert got[line]["rebuilt"] == line
    assert got[without]["range_header"] is None
    assert got[without]["rebuilt"] == without


def test_range_parse_both_spellings(spark):
    # intended semantics: accept AWS's 'bytes=a-b' and the reference
    # sscanf's 'bytesa-b' (SURVEY.md §2.2 P5 quirk)
    df = spark.createDataFrame(
        [("bytes=0-99",), ("bytes100-200",), (None,), ("nope",)], "r string"
    )
    s, e = parse_range("r")
    rows = df.select(s.alias("s"), e.alias("e")).collect()
    assert (rows[0]["s"], rows[0]["e"]) == (0, 99)
    assert (rows[1]["s"], rows[1]["e"]) == (100, 200)
    assert rows[2]["s"] is None
    assert rows[3]["s"] is None


def test_http_clamp(spark):
    # P3: 200..599 pass, else 0 (src/s3parser.c:214-223)
    df = spark.createDataFrame([(200,), (599,), (100,), (999,), (None,)], "c int")
    got = [r[0] for r in df.select(clamp_http_code("c")).collect()]
    assert got == [200, 599, 0, 0, 0]


def test_contains_pattern(spark):
    # ports tests/test_parser.cpp:138-163 (match / miss / partial-miss)
    df = spark.createDataFrame(
        [
            ("Spotify/8.8.4.669 Android/33", "Spotify/", 1),
            ("Mozilla/5.0 Windows", "Spotify/", 0),
            ("Spotif/8.8", "Spotify/", 0),
        ],
        "ua string, pat string, want int",
    )
    rows = df.collect()
    for r in rows:
        one = spark.createDataFrame([(r["ua"],)], "ua string")
        got = one.select(contains_pattern("ua", r["pat"])).collect()[0][0]
        assert got == r["want"]


def _odd_ts_lines():
    """grammar-legal lines whose bracketed timestamp is NOT the usual
    two-token '[date offset]' shape (ADVICE r3 #1: positional token
    indices shift, so the Arrow parser must not silently extract fields
    from the wrong tokens)."""
    tail = (
        '1.2.3.4 REQSTR REQID REST.GET.OBJECT /show/ep.mp3 '
        '"GET /show/ep.mp3 HTTP/1.1" 206 - 1024 2048 77 42 "-" '
        '"Spotify/8.8 Android" v1 H1 SigV2 C A host.example.com TLSv1.2 '
        'arn false "bytes=0-1023"'
    )
    return [
        # control: canonical two-token timestamp → ok
        f"own buck [03/May/2025:10:20:30 +0000] {tail}",
        # one-token bracket (the ADVICE repro) → bad_time, fields intact
        f"own buck [99/May/2025bad] {tail}",
        # three-token bracket → bad_time, fields intact
        f"own buck [03/May/2025:10:20:30 +0000 extra] {tail}",
        # two tokens, junk offset → bad_time (never a silent +0000)
        f"own buck [03/May/2025:10:20:30 junk] {tail}",
        # two tokens, trailing junk after seconds → bad_time (the parse
        # must consume the whole date token, not a 20-char prefix)
        f"own buck [03/May/2025:10:20:303 +0000] {tail}",
        # empty bracket → bad_time
        f"own buck [] {tail}",
        # not grammar-legal at all → bad_format
        "own buck oops truncated",
    ]


def test_parser_equality_on_odd_timestamp_brackets(spark):
    """the Arrow slim path agrees row-for-row with the SQL reference
    on bracket shapes the generator never emits (1-token / 3-token /
    junk-offset timestamps): the Arrow positional parser anchors ip/key
    from the line END, so a variable-width bracket cannot shift field
    extraction."""
    from s3_log_parser_spark.plans.pipeline import build_slim

    rows = [
        ("conv-0", i, "assistant", line, "t", None)
        for i, line in enumerate(_odd_ts_lines())
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    arrow = build_slim(df)
    sql = build_slim(df, use_sql_parser=True)
    assert arrow.exceptAll(sql).isEmpty()
    assert sql.exceptAll(arrow).isEmpty()

    got = {r["turn_idx"]: r for r in arrow.collect()}
    assert got[0]["parse_status"] == "ok"
    for i in (1, 2, 3, 4, 5):
        assert got[i]["parse_status"] == "bad_time", i
    assert got[6]["parse_status"] == "bad_format"
    # the ADVICE repro: remote_ip must hash from the ip TOKEN, not the
    # requester field, on the one-token-bracket line
    from s3_log_parser_spark.functions.hashes import djb2_py

    assert got[1]["ip_hash"] == djb2_py("1.2.3.4")
    assert got[1]["key_hash"] == djb2_py("/show/ep.mp3")


def test_json_field_null_degrade(spark):
    # malformed JSON and missing keys become NULL (never a thrown
    # cast/parse error — the property that keeps a 100 TB scan alive)
    from s3_log_parser_spark.functions.parsing import json_field

    df = spark.createDataFrame(
        [('{"k": 7}',), ('{"k',), (None,), ('{"other": 1}',), ('{"k": "x"}',)],
        "props string",
    )
    out = df.select(
        json_field("props", "k").alias("raw"),
        json_field("props", "k").try_cast("long").alias("k"),
    ).collect()
    assert [r.k for r in out] == [7, None, None, None, None]
    assert out[4].raw == "x" and out[4].k is None  # non-numeric: cast degrades
