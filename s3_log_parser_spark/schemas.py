"""Fixed schemas + enum dictionaries.

The reference bakes its "dimension tables" into code as enums and
ordered pattern banks (``/root/reference/include/s3lp.h:87-126``,
``src/s3parser.c:494-586``). Here they are data: StructTypes declared
once, enum dicts and the ordered user-agent pattern banks exported as
constants (SURVEY.md §2.3 E7/E8, §2.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: transcripts fact table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Parsed turn payload: the 26(+1)-field S3-access-log layout the turn text
# carries (reference positional tokenizer /root/reference/src/s3parser.c:93-360).
# Field order matters: it is the reassembly order for the byte-exact
# round-trip invariant (north_rule per-turn text equality).
# ---------------------------------------------------------------------------
PARSED_FIELDS: list[tuple[str, T.DataType]] = [
    ("owner", T.StringType()),
    ("bucket", T.StringType()),
    ("ts_str", T.StringType()),  # raw "[dd/Mon/yyyy:HH:mm:ss +0000]" interior
    ("remote_ip", T.StringType()),
    ("requester", T.StringType()),
    ("req_id", T.StringType()),
    ("operation", T.StringType()),
    ("key", T.StringType()),
    ("request_uri", T.StringType()),
    ("http_code", T.IntegerType()),
    ("error_code", T.StringType()),
    ("bytes_sent", T.LongType()),
    ("object_size", T.LongType()),
    ("total_time_ms", T.IntegerType()),
    ("turnaround_ms", T.IntegerType()),
    ("referrer", T.StringType()),
    ("user_agent", T.StringType()),
    ("version_id", T.StringType()),
    ("host_id", T.StringType()),
    ("sig_version", T.StringType()),
    ("cipher", T.StringType()),
    ("auth_type", T.StringType()),
    ("host_header", T.StringType()),
    ("tls_version", T.StringType()),
    ("access_point_arn", T.StringType()),
    ("acl_required", T.StringType()),
    ("range_header", T.StringType()),  # optional 27th field (206 rows)
]

# ---------------------------------------------------------------------------
# Encoded ("slim") record — the columnar analog of the reference's packed
# 28-byte struct (/root/reference/include/s3lp.h:71-84). We keep full-width
# ints plus *_u8 compat projections for the reference's documented
# narrowing quirks (SURVEY.md §2.3 E5/E8).
# ---------------------------------------------------------------------------
SLIM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("role_id", T.IntegerType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("tool_id", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ts_unix", T.LongType(), True),
        T.StructField("day_bucket", T.LongType(), True),
        T.StructField("conv_hash", T.LongType(), True),
        T.StructField("ip_hash", T.LongType(), True),
        T.StructField("key_hash", T.LongType(), True),
        T.StructField("tool_hash", T.LongType(), True),
        T.StructField("bytes_sent_kb", T.IntegerType(), True),
        T.StructField("object_size_kb", T.IntegerType(), True),
        T.StructField("download_time_ms", T.IntegerType(), True),
        T.StructField("http_code", T.IntegerType(), True),
        T.StructField("http_code_u8", T.IntegerType(), True),
        T.StructField("system_id", T.IntegerType(), True),
        T.StructField("os_id", T.IntegerType(), True),
        T.StructField("device_id", T.IntegerType(), True),
        T.StructField("platform_id", T.IntegerType(), True),
        T.StructField("platform_id_u8", T.IntegerType(), True),
        T.StructField("completion_percent", T.IntegerType(), True),
        T.StructField("flags", T.IntegerType(), True),
        T.StructField("parse_status", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Enum dictionaries (reference include/s3lp.h:87-126, s3extract.h:18-24)
# ---------------------------------------------------------------------------
DJB2_SEED = 5381  # include/s3lp.h:15

SYSTEM_IDS = {
    "UNKNOWN": 0,
    "BLUBRRY": 1,
    "SPOTIFY": 2,
    "APPLE_PODCASTS": 3,
    "GOOGLE_PODCASTS": 4,
    "YOUTUBE": 5,
    "PLAYER_FM": 6,
    "WEB_PLAYER": 7,
}

DEVICE_IDS = {
    "DEV_UNKNOWN": 0,
    "DEV_MOBILE": 1,
    "DEV_DESKTOP": 2,
    "DEV_TABLET": 3,
    "DEV_SMART_SPEAKER": 4,
    "DEV_TV": 5,
    "DEV_WATCH": 6,
}

OS_IDS = {
    "OS_UNKNOWN": 0,
    "OS_ANDROID": 1,
    "OS_IOS": 2,
    "OS_WINDOWS": 3,
    "OS_MACOS": 4,
    "OS_LINUX": 5,
    "OS_CHROMECAST": 6,
    "OS_TV": 7,
    "OS_WATCH": 8,
}

# http_flag_t bitmask (include/s3lp.h:120-126)
FLAG_UNIQUE_IP = 1
FLAG_STRT_206DL = 2
FLAG_MID_206DL = 4
FLAG_END_206DL = 8

MEGABYTE = 1 << 20
FSIZE_KB = 1000  # include/s3lp.h:21 — reduced end-check for small objects
SECONDS_PER_DAY = 86400  # include/s3extract.h:24

# ordered system pattern bank (src/s3parser.c:499-510): list order = match order
SYSTEM_PATTERNS: list[tuple[str, int]] = [
    ("RawVoice Generator/", SYSTEM_IDS["BLUBRRY"]),
    ("Spotify/", SYSTEM_IDS["SPOTIFY"]),
    ("AppleCoreMedia/", SYSTEM_IDS["APPLE_PODCASTS"]),
    ("Googlebot/", SYSTEM_IDS["GOOGLE_PODCASTS"]),
    ("Youtube/", SYSTEM_IDS["YOUTUBE"]),
]

# ordered OS pattern bank (src/s3parser.c:523-553). We implement *intended*
# semantics: Windows → OS_WINDOWS (the reference maps it to OS_IOS at
# src/s3parser.c:534-536 — a quirk we document, not reproduce; the compat
# projection platform_id_u8 in operators/enrich.py reproduces the observable
# u8 truncation instead).
OS_PATTERNS: list[tuple[tuple[str, ...], int]] = [
    (("Android",), OS_IDS["OS_ANDROID"]),
    (("iPhone", "iPad", "iOS"), OS_IDS["OS_IOS"]),
    (("Windows",), OS_IDS["OS_WINDOWS"]),
    (("Macintosh", "Mac"), OS_IDS["OS_MACOS"]),
    (("tvOS",), OS_IDS["OS_TV"]),
    (("watchOS",), OS_IDS["OS_WATCH"]),
]

TOOL_NAMES = [
    # the reference generator's 20 shows (src/fake_logs.c:9-13), reused as
    # the graft's tool vocabulary (FIXTURES.md §1)
    "tech-talk", "daily-news", "comedy-hour", "true-crime",
    "history-deep-dive", "startup-stories", "music-reviews", "book-club",
    "fitness-tips", "cooking-show", "travel-tales", "science-corner",
    "movie-reviews", "language-learning", "meditation-guide",
    "sports-weekly", "art-spotlight", "gaming-news", "health-matters",
    "finance-focus",
]

ROLES = ["user", "assistant", "tool"]

# user-agent domain for the generator — one representative per
# (system × platform) classification path so E7/E8 are exercised
USER_AGENTS = [
    "Spotify/8.8.4.669 Android/33 (SM-G781B)",
    "Spotify/8.8.4 iOS/16.5 (iPhone14,5) Mobile",
    "AppleCoreMedia/1.0.0.20L498 (iPhone; U; CPU OS 16_5 like Mac OS X)",
    "AppleCoreMedia/1.0.0.21A329 (iPad; U; CPU OS 17_0 like Mac OS X) Tablet",
    "RawVoice Generator/1.0 (Windows NT 10.0)",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Youtube/18.19.35 tvOS/16.4 (AppleTV11,1)",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Mobile",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_4)",
    "PodWatch/2.0 watchOS/9.5 (Watch6,9)",
    "AlexaMediaPlayer/3.1 Echo (Gen4) Android",
    "CastBox/9.0 GoogleHome speaker",
    "FakeAgent/1.0",
]

