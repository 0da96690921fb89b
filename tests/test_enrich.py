"""E7/E8 — broadcast-join enrichment ≡ ordered CASE WHEN chains."""

from pyspark.sql import functions as F

from s3_log_parser_spark.operators.enrich import classify_when, enrich_broadcast
from s3_log_parser_spark.schemas import USER_AGENTS, SYSTEM_IDS, OS_IDS, DEVICE_IDS


def _ua_df(spark):
    uas = USER_AGENTS + [None, "", "Unknown/1.0"]
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(uas)], "i int, user_agent string"
    )


def test_broadcast_equals_when_chain(spark):
    df = _ua_df(spark)
    cols = ["i", "system_id", "os_id", "device_id", "platform_id", "platform_id_u8"]
    a = classify_when(df).select(cols).orderBy("i")
    b = enrich_broadcast(df, row_key=("i",)).select(cols).orderBy("i")
    assert [r.asDict() for r in a.collect()] == [r.asDict() for r in b.collect()]


def test_known_classifications(spark):
    df = _ua_df(spark)
    got = {
        r["user_agent"]: (r["system_id"], r["os_id"], r["device_id"])
        for r in classify_when(df).collect()
    }
    assert got["Spotify/8.8.4.669 Android/33 (SM-G781B)"] == (
        SYSTEM_IDS["SPOTIFY"], OS_IDS["OS_ANDROID"], DEVICE_IDS["DEV_UNKNOWN"],
    )
    assert got["AppleCoreMedia/1.0.0.20L498 (iPhone; U; CPU OS 16_5 like Mac OS X)"] == (
        SYSTEM_IDS["APPLE_PODCASTS"], OS_IDS["OS_IOS"], DEVICE_IDS["DEV_MOBILE"],
    )
    assert got["Googlebot/2.1 (+http://www.google.com/bot.html)"] == (
        SYSTEM_IDS["GOOGLE_PODCASTS"], OS_IDS["OS_UNKNOWN"], DEVICE_IDS["DEV_UNKNOWN"],
    )
    assert got["Youtube/18.19.35 tvOS/16.4 (AppleTV11,1)"] == (
        SYSTEM_IDS["YOUTUBE"], OS_IDS["OS_TV"], DEVICE_IDS["DEV_TV"],
    )
    assert got["PodWatch/2.0 watchOS/9.5 (Watch6,9)"] == (
        SYSTEM_IDS["UNKNOWN"], OS_IDS["OS_WATCH"], DEVICE_IDS["DEV_WATCH"],
    )
    # intended semantics: Windows → OS_WINDOWS (reference quirk maps it
    # to OS_IOS at src/s3parser.c:534-536 — deliberately not reproduced)
    assert got["Mozilla/5.0 (Macintosh; Intel Mac OS X 13_4)"] == (
        SYSTEM_IDS["UNKNOWN"], OS_IDS["OS_MACOS"], DEVICE_IDS["DEV_DESKTOP"],
    )
    assert got[None] == (0, 0, 0)
    assert got[""] == (0, 0, 0)
    assert got["Unknown/1.0"] == (0, 0, 0)


def test_platform_encoding(spark):
    df = _ua_df(spark)
    rows = classify_when(df).collect()
    for r in rows:
        assert r["platform_id"] == r["os_id"] * 256 + r["device_id"]
        # the reference's uint8 truncation keeps only the device byte
        assert r["platform_id_u8"] == r["device_id"]


def test_enrich_broadcast_plan_has_no_shuffle(spark):
    """The bank join must not introduce any exchange keyed on a per-row
    id (VERDICT r1: the old theta-join + row_number form shuffled the
    fact table twice on monotonically_increasing_id)."""
    df = _ua_df(spark)
    plan = (
        enrich_broadcast(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # match the operator NODES ("Window ["), not bare substrings: the
    # literal-plan dims (r7) inline pattern strings like "Windows"
    # into the plan text
    assert "ShuffleExchange" not in plan and "Window [" not in plan
    assert "monotonically_increasing_id" not in plan


def test_role_tool_dims_match_python_reference(spark):
    """The CASE-WHEN role/tool dim lookup equals a pure-Python
    expectation built from ROLES, TOOL_NAMES and djb2_py, including
    NULL and unknown keys (→ NULL ids, the left-join contract), with
    no broadcast and no join in the plan."""
    from s3_log_parser_spark.functions.hashes import djb2_py
    from s3_log_parser_spark.operators.enrich import enrich_role_tool
    from s3_log_parser_spark.schemas import ROLES, TOOL_NAMES

    keys = [
        ("user", "tech-talk"),
        ("assistant", "finance-focus"),
        ("tool", "gaming-news"),
        (None, None),
        ("narrator", "unknown-tool"),
    ]
    df = spark.createDataFrame(keys, "role string, tool string")
    role_id = {r: i + 1 for i, r in enumerate(ROLES)}
    assert role_id == {"user": 1, "assistant": 2, "tool": 3}
    tool_id = {t: i for i, t in enumerate(TOOL_NAMES)}
    want = {
        (
            role,
            tool,
            role_id.get(role),
            tool_id.get(tool),
            djb2_py(tool) if tool in tool_id else None,
        )
        for role, tool in keys
    }
    cols = ["role", "tool", "role_id", "tool_id", "tool_dim_hash"]
    got = {tuple(r) for r in enrich_role_tool(df).select(*cols).collect()}
    assert got == want
    plan = enrich_role_tool(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan and "Join" not in plan
