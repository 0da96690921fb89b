"""E7/E8 — the CASE WHEN classifier ≡ a pure-Python reference."""

from itertools import combinations

from s3_log_parser_spark.operators.enrich import classify_when
from s3_log_parser_spark.schemas import (
    DEVICE_IDS,
    OS_IDS,
    OS_PATTERNS,
    SYSTEM_IDS,
    SYSTEM_PATTERNS,
    USER_AGENTS,
)

# the device rules' tokens (iPhone and iPad are OS tokens too)
_DEVICE_TOKENS = ("Mobile", "Tablet", "Echo", "HomePod", "GoogleHome")


def _ua_df(spark):
    uas = USER_AGENTS + [None, "", "Unknown/1.0"]
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(uas)], "i int, user_agent string"
    )


def _classify_py(ua):
    """Reference E7/E8: first matching pattern in list order, then the
    ordered device rules (src/s3parser.c:494-586, intended semantics)."""
    has = lambda p: ua is not None and p in ua  # noqa: E731
    sid = next((r[1] for r in SYSTEM_PATTERNS if has(r[0])), SYSTEM_IDS["UNKNOWN"])
    os_id = next(
        (r[1] for r in OS_PATTERNS if any(map(has, r[0]))), OS_IDS["OS_UNKNOWN"]
    )
    if os_id == OS_IDS["OS_WATCH"]:
        dev = "DEV_WATCH"
    elif os_id == OS_IDS["OS_TV"]:
        dev = "DEV_TV"
    elif has("Mobile") or (os_id == OS_IDS["OS_IOS"] and has("iPhone")):
        dev = "DEV_MOBILE"
    elif has("Tablet") or has("iPad"):
        dev = "DEV_TABLET"
    elif has("Echo") or has("HomePod") or has("GoogleHome"):
        dev = "DEV_SMART_SPEAKER"
    elif os_id in (OS_IDS["OS_WINDOWS"], OS_IDS["OS_LINUX"], OS_IDS["OS_MACOS"]):
        dev = "DEV_DESKTOP"
    else:
        dev = "DEV_UNKNOWN"
    dev_id = DEVICE_IDS[dev]
    return sid, os_id, dev_id, os_id * 256 + dev_id, dev_id


def test_classify_when_matches_python_reference(spark):
    """Every generator user agent, NULL, empty, an unmatched agent and
    every pair of bank tokens (system, OS and device patterns) classify
    exactly as the Python reference, in both ANSI modes."""
    tokens = sorted(
        {r[0] for r in SYSTEM_PATTERNS}
        | {p for r in OS_PATTERNS for p in r[0]}
        | set(_DEVICE_TOKENS)
    )
    uas = USER_AGENTS + [None, "", "Unknown/1.0"]
    uas += [f"{a} {b}" for a, b in combinations(tokens, 2)]
    assert len(uas) == 187
    want = {i: _classify_py(ua) for i, ua in enumerate(uas)}
    df = spark.createDataFrame(list(enumerate(uas)), "i int, user_agent string")
    cols = ["system_id", "os_id", "device_id", "platform_id", "platform_id_u8"]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = {
                r["i"]: tuple(r[c] for c in cols)
                for r in classify_when(df).collect()
            }
            assert got == want, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


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


def test_classify_when_plan_has_no_exchange(spark):
    """The classifier is a projection: no exchange, no join and no
    window in the executed plan."""
    plan = classify_when(_ua_df(spark))._jdf.queryExecution().executedPlan().toString()
    # match the operator NODES ("Window ["), not bare substrings: the
    # CASE WHEN text inlines pattern strings like "Windows"
    assert "Exchange" not in plan and "Join" not in plan
    assert "Window [" not in plan


def test_role_tool_dims_match_python_reference(spark):
    """The CASE-WHEN role/tool dim lookup equals a pure-Python
    expectation built from ROLES and TOOL_NAMES, including
    NULL and unknown keys (→ NULL ids, the left-join contract), with
    no broadcast and no join in the plan."""
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
    want = {(r, t, role_id.get(r), tool_id.get(t)) for r, t in keys}
    cols = ["role", "tool", "role_id", "tool_id"]
    got = {tuple(r) for r in enrich_role_tool(df).select(*cols).collect()}
    assert got == want
    plan = enrich_role_tool(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan and "Join" not in plan
