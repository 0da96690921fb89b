"""S7: deterministic in-Spark transcripts generator.

Blueprint: the reference's ``fake_logs`` generator
(``/root/reference/src/fake_logs.c:15-115``) — 20 shows, ~14% HTTP-206
partial downloads, 15-25 MB objects — re-expressed as ``spark.range`` +
column expressions so it parallelizes across executors and is fully
seed-stable (the reference mixes ``srand(time(NULL))`` at
fake_logs.c:24; every pseudo-random choice here derives from
``xxhash64(id, seed)`` instead — FIXTURES.md §1).

The graft (SURVEY.md §1.4): each generated row is one transcript turn
whose ``text`` payload is a full 26(+1)-field S3-access-log line, so
the same grok bank parses both the reference's input shape and ours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import ROLES, TOOL_NAMES, USER_AGENTS

SEED = 42
MEGABYTE = 1 << 20
# share of turns on the hot conversation conv-0 (percent), and share of
# turns with truncated or bad-timestamp text (per mille)
HOT_FRACTION_PCT = 10
MALFORMED_PER_MILLE = 5


def _h(seed_tag: int):
    """stable per-row uint63 pseudo-random stream keyed on (id, tag).

    shiftrightunsigned keeps it non-negative even for Long.MIN_VALUE
    (where abs() would stay negative and poison a later %).
    """
    return F.shiftrightunsigned(
        F.xxhash64(F.col("id"), F.lit(SEED), F.lit(seed_tag)), 1
    )


def gen_transcripts(spark: SparkSession, rows: int = 10_000) -> DataFrame:
    """Build the transcripts fact table: (conv_id, turn_idx, role, text, tool, ts).

    - hot-key skew: ``HOT_FRACTION_PCT``% of turns land on conv-0
      (exercises salting/AQE skew handling, north_rule); the rest
      spread over ``max(20, rows // 50) - 1`` other conversations.
    - ~14% of turns are 206 partial downloads split ≈⅓/⅓/⅓ into
      start/mid/end range positions (fake_logs.c:43-44, 94-99 intent).
    - 1% of non-206 turns carry 404/500/403 (E5/P3 domain).
    - ``MALFORMED_PER_MILLE``/1000 turns have truncated or bad-timestamp
      text → parse_status fixtures for the rejects sink.
    """
    n_convs = max(20, rows // 50)
    df = spark.range(0, rows)  # defaultParallelism partitions

    # --- conversation identity with deliberate skew --------------------
    is_hot = (_h(1) % 100) < HOT_FRACTION_PCT
    conv_num = F.when(is_hot, F.lit(0)).otherwise(
        F.lit(1) + (_h(2) % F.lit(max(1, n_convs - 1)))
    )
    df = df.withColumn("conv_id", F.concat(F.lit("conv-"), conv_num))

    # --- role / tool / episode (fake_logs.c:33-40) ----------------------
    role_arr = F.array(*[F.lit(r) for r in ROLES])
    df = df.withColumn("role", role_arr[(_h(3) % 3).cast("int")])

    tool_arr = F.array(*[F.lit(t) for t in TOOL_NAMES])
    base_tool_idx = ((F.col("id") / 100).cast("long") % 20).cast("int")
    override = (_h(4) % 10) == 0  # 10% hash-derived override
    tool_idx = F.when(override, (_h(5) % 20).cast("int")).otherwise(base_tool_idx)
    df = df.withColumn("tool", tool_arr[tool_idx])
    df = df.withColumn("episode", (F.col("id") % 1000).cast("int"))

    # --- timestamp: 2025-05-03 + id seconds (fake_logs.c:28-31) ---------
    df = df.withColumn(
        "ts",
        F.to_timestamp(F.lit("2025-05-03 00:00:00"))
        + F.make_interval(secs=F.col("id").cast("double")),
    )

    # --- http status mix -------------------------------------------------
    is_206 = (F.col("id") % 7) == 0
    err_slice = (_h(6) % 100) == 99
    err_code = F.array(F.lit(404), F.lit(500), F.lit(403))[(_h(7) % 3).cast("int")]
    http_code = (
        F.when(is_206, F.lit(206)).when(err_slice, err_code).otherwise(F.lit(200))
    )
    df = df.withColumn("http_code", http_code)

    # --- sizes (fake_logs.c:47-55) ---------------------------------------
    object_size = (F.lit(15_000_000) + (_h(8) % 10_000_000)).cast("long")
    df = df.withColumn("object_size", object_size)

    # 206 range position: deterministic thirds — start / end / mid
    third = _h(9) % 3
    range_start = F.when(third == 0, F.lit(0)).otherwise(
        (_h(10) % (F.col("object_size") - MEGABYTE - 1)) + 1
    )
    near_end = F.col("object_size") - (_h(11) % (MEGABYTE // 2)) - 1
    mid_end = F.col("range_start") + (_h(12) % MEGABYTE) + 1
    df = (
        df.withColumn("range_start", F.when(is_206, range_start))
        .withColumn(
            "range_end",
            F.when(is_206 & (third == 1), near_end).when(
                is_206, F.least(mid_end, F.col("object_size") - F.lit(2 * MEGABYTE))
            ),
        )
        .withColumn(
            "range_end",
            F.when(
                F.col("range_end") < F.col("range_start"),
                F.col("range_start") + (_h(13) % 1000),
            ).otherwise(F.col("range_end")),
        )
    )

    bytes_sent = (
        F.when(F.col("http_code") == 200, F.col("object_size"))
        .when(is_206, F.col("range_end") - F.col("range_start") + 1)
        .otherwise(F.lit(0))
    )
    df = df.withColumn("bytes_sent", bytes_sent.cast("long"))
    df = df.withColumn("total_time_ms", (_h(14) % 5000).cast("int"))

    # --- user agent / ip --------------------------------------------------
    ua_arr = F.array(*[F.lit(u) for u in USER_AGENTS])
    df = df.withColumn("user_agent", ua_arr[(_h(15) % len(USER_AGENTS)).cast("int")])
    df = df.withColumn(
        "remote_ip", F.concat(F.lit("203.0.113."), (F.col("id") % 255))
    )

    # --- assemble the 26(+1)-field text payload ---------------------------
    k = (_h(16) % 1000).cast("int")
    key = F.format_string("/%s/episode-%d.mp3", F.col("tool"), F.col("episode"))
    ts_str = F.concat(
        F.date_format(F.col("ts"), "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000")
    )
    base = F.format_string(
        "%s %s [%s] %s %s %s %s %s \"%s\" %d - %d %d %d 42 \"-\" \"%s\" "
        "v%d HOSTID%d SigV2 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader "
        "host%d.example.com TLSv1.2 arn:aws:s3:::example-AP%d false",
        F.lit("79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be"),
        F.lit("podcast-bucket"),
        ts_str,
        F.col("remote_ip"),
        F.lit("-"),
        F.upper(F.conv(F.abs(_h(17)).cast("string"), 10, 16)),
        F.lit("REST.GET.OBJECT"),
        key,
        F.format_string("GET %s HTTP/1.1", key),
        F.col("http_code"),
        F.col("bytes_sent"),
        F.col("object_size"),
        F.col("total_time_ms"),
        F.col("user_agent"),
        k, k, k, k,
    )
    text = F.when(
        is_206,
        F.concat(
            base,
            F.format_string(
                ' "bytes=%d-%d"', F.col("range_start"), F.col("range_end")
            ),
        ),
    ).otherwise(base)

    # malformed slice: truncate or corrupt the timestamp
    mal = (_h(18) % 1000) < MALFORMED_PER_MILLE
    mal_kind = _h(19) % 2
    text = (
        F.when(mal & (mal_kind == 0), F.substring(base, 1, 40))
        .when(
            mal,
            F.regexp_replace(base, r"\[\d\d/", "[99/"),  # bad day → bad_time
        )
        .otherwise(text)
    )
    df = df.withColumn("text", text)

    # --- stable dense turn_idx within conversation -------------------------
    w = Window.partitionBy("conv_id").orderBy("id")
    df = df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))

    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def transcripts_from_events(events: DataFrame) -> DataFrame:
    """Adapter: derive a transcripts fact table from the driver's
    ``events`` table (deterministic — used by ``__spark_entry__.entry``
    so the flagship query runs the real DAG over driver-provided data).

    Mapping: user → conversation, event stream per user → turns in
    (ts, event_id) order, event_type → role-ish/tool, and a full
    S3-log-format text payload synthesized from event fields.
    """
    df = events.select(
        F.col("event_id").alias("id"),
        F.concat(F.lit("conv-"), F.col("user_id")).alias("conv_id"),
        F.col("event_type").alias("tool"),
        F.col("ts"),
        F.col("value"),
    )
    role_arr = F.array(*[F.lit(r) for r in ROLES])
    df = df.withColumn("role", role_arr[(_h(30) % 3).cast("int")])
    df = df.withColumn("episode", (F.col("id") % 1000).cast("int"))
    df = df.withColumn("http_code", F.when(F.col("id") % 7 == 0, 206).otherwise(200))
    df = df.withColumn("object_size", (F.lit(15_000_000) + (_h(31) % 10_000_000)))
    # 206 rows carry a real byte range (deterministic thirds: start /
    # end / mid) so the flagship entry() path exercises START/UNIQUE_IP/
    # END flags, matching gen_transcripts — a range-less 206 would fall
    # into the NULL-range → MID policy (operators/flags.py)
    is_206 = F.col("http_code") == 206
    third = _h(37) % 3
    range_start = F.when(third == 0, F.lit(0)).otherwise(
        (_h(38) % (F.col("object_size") - MEGABYTE - 1)) + 1
    )
    near_end = F.col("object_size") - (_h(39) % (MEGABYTE // 2)) - 1
    df = df.withColumn("range_start", F.when(is_206, range_start))
    mid_end = F.col("range_start") + (_h(40) % MEGABYTE) + 1
    df = df.withColumn(
        "range_end",
        F.when(is_206 & (third == 1), near_end).when(
            is_206,
            F.least(mid_end, F.col("object_size") - F.lit(2 * MEGABYTE)),
        ),
    ).withColumn(
        "range_end",
        F.when(
            F.col("range_end") < F.col("range_start"),
            F.col("range_start") + (_h(41) % 1000),
        ).otherwise(F.col("range_end")),
    )
    df = df.withColumn(
        "bytes_sent",
        F.when(
            is_206, F.col("range_end") - F.col("range_start") + 1
        ).otherwise(F.col("object_size")),
    )
    df = df.withColumn("total_time_ms", (_h(33) % 5000).cast("int"))
    ua_arr = F.array(*[F.lit(u) for u in USER_AGENTS])
    df = df.withColumn("user_agent", ua_arr[(_h(34) % len(USER_AGENTS)).cast("int")])
    df = df.withColumn("remote_ip", F.concat(F.lit("203.0.113."), F.col("id") % 255))

    key = F.format_string("/%s/episode-%d.mp3", F.col("tool"), F.col("episode"))
    ts_str = F.concat(
        F.date_format(F.col("ts"), "dd/MMM/yyyy:HH:mm:ss"), F.lit(" +0000")
    )
    k = (_h(35) % 1000).cast("int")
    text = F.format_string(
        "%s %s [%s] %s %s %s %s %s \"%s\" %d - %d %d %d 42 \"-\" \"%s\" "
        "v%d HOSTID%d SigV2 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader "
        "host%d.example.com TLSv1.2 arn:aws:s3:::example-AP%d false",
        F.lit("79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be"),
        F.lit("event-bucket"),
        ts_str,
        F.col("remote_ip"),
        F.lit("-"),
        F.upper(F.conv(_h(36).cast("string"), 10, 16)),
        F.lit("REST.GET.OBJECT"),
        key,
        F.format_string("GET %s HTTP/1.1", key),
        F.col("http_code"),
        F.col("bytes_sent"),
        F.col("object_size"),
        F.col("total_time_ms"),
        F.col("user_agent"),
        k, k, k, k,
    )
    text = F.when(
        is_206,
        F.concat(
            text,
            F.format_string(
                ' "bytes=%d-%d"', F.col("range_start"), F.col("range_end")
            ),
        ),
    ).otherwise(text)
    df = df.withColumn("text", text)
    w = Window.partitionBy("conv_id").orderBy("ts", "id")
    df = df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")

