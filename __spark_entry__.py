"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship: synthesize transcript turns from the
sf0.001 ``events`` parquet, run the full parse → enrich → route →
aggregate DAG, return per-(tool, role) counts.

``queries()``     — one named query per implemented operator from
SURVEY.md §2 plus the training-data suite (dedup / similarity / text /
multimodal). Each callable takes (spark, sf_dir) and returns a
DataFrame whose column names AND values match ``oracle_sql()`` run by
DuckDB on the same parquet (sorted-column value-hash compare): every
computed column is aliased identically on both sides, integers are
cast BIGINT, and float aggregates are avoided (integer-scaled instead)
so cross-engine results are bit-identical.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # pin UTC: date_format/strftime comparisons against the DuckDB
    # oracle (tz-naive) only line up when Spark renders instants in UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # memoize the scan frame per (session, path): read.parquet costs
    # ~40 ms of driver file-listing/schema work per call and the leg
    # makes ~130 calls over the same ten immutable tables. Plan-object
    # reuse only — execution always scans the parquet files.
    key = (id(spark), sf_dir, name)
    got = _T_CACHE.get(key)
    if got is None:
        got = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if len(_T_CACHE) > 64:
            _T_CACHE.clear()
        _T_CACHE[key] = got
    return got


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def reg(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return reg


# DuckDB fragment for DJB2 (matches functions/hashes.djb2_expr exactly).
# The empty string needs a guard: DuckDB string_split('', '') is ['']
# (not []) and ord('') is -1, which would fold to 177572 where the
# Spark expression yields the bare seed 5381.
def _djb2_sql(expr: str) -> str:
    return (
        f"CASE WHEN coalesce({expr}, '') = '' THEN 5381 ELSE "
        "list_reduce(list_prepend(5381::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ord(c)::BIGINT)), "
        "(a, b) -> (a * 33 + b) % 4294967296) END"
    )


# DuckDB fragment: whitespace tokens of an expression
def _toks_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(trim(coalesce({expr}, ''))"
        ", '\\s+'), t -> t != '')"
    )


# ===========================================================================
# entry: flagship query
# ===========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """events(sf0.001) → synthetic transcript turns → full pipeline DAG
    → per-(tool, role) counts of ok rows + rejects."""
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import transcripts_from_events

    events = _t(spark, "/root/testdata/sf0.001", "events")
    turns = transcripts_from_events(events)
    slim = build_slim(turns)
    return (
        slim.groupBy("tool", "role", "parse_status")
        .agg(F.count("*").alias("n_turns"))
        .orderBy("tool", "role", "parse_status")
    )


# ===========================================================================
# §2.1/2.2 scans, projections, parsing predicates
# ===========================================================================



_SLIM10K_CACHE: dict = {}


def _slim10k(spark):
    """the shared 10k-row slim PLAN (gen -> parse -> enrich -> flags),
    built once per session and reused by every golden-slim query — six
    queries each rebuilt the identical ~0.7 s expression tree (pure
    driver/py4j work); reusing the immutable DataFrame object changes
    nothing about execution (each query still computes from the
    generated input — no results are cached, only the logical plan)."""
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    key = id(spark)
    got = _SLIM10K_CACHE.get(key)
    if got is None:
        got = build_slim(gen_transcripts(spark, rows=10_000))
        _SLIM10K_CACHE.clear()  # one live session at a time
        _SLIM10K_CACHE[key] = got
    return got


@q(
    "s1_scan_filter_project",
    """
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, source
    FROM documents WHERE n_chars > 200
    """,
)
def _s1(spark, sf):
    # S1: pruned/pushed-down scan — only 3 columns read, filter at scan
    return (
        _t(spark, sf, "documents")
        .filter(F.col("n_chars") > 200)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"), "source")
    )


@q(
    "p1_regex_field_extract",
    """
    SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_val,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM events GROUP BY 1
    """,
)
def _p1(spark, sf):
    # P1: anchored regex extraction (the grok-bank primitive) over a
    # semi-structured string column
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("long")
    return (
        _t(spark, sf, "events")
        .select(k.alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("count"))
    )


@q(
    "p2_timestamp_parse_format",
    """
    SELECT strftime(ts, '%Y-%m-%d %H') AS hour_str,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM events GROUP BY 1
    """,
)
def _p2(spark, sf):
    # P2/F1: timestamp parse + format (reference strptime/strftime pair)
    return (
        _t(spark, sf, "events")
        .select(F.date_format("ts", "yyyy-MM-dd HH").alias("hour_str"))
        .groupBy("hour_str")
        .agg(F.count("*").alias("count"))
    )


@q(
    "p3_http_domain_clamp",
    """
    SELECT CAST(CASE WHEN code BETWEEN 200 AND 599 THEN code ELSE 0 END AS BIGINT)
             AS clamped,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM (SELECT 100 + event_id % 600 AS code FROM events) GROUP BY 1
    """,
)
def _p3(spark, sf):
    from s3_log_parser_spark.functions.parsing import clamp_http_code

    code = (F.lit(100) + F.col("event_id") % 600).cast("int")
    return (
        _t(spark, sf, "events")
        .select(clamp_http_code(code).cast("long").alias("clamped"))
        .groupBy("clamped")
        .agg(F.count("*").alias("count"))
    )


@q(
    "p5_range_header_parse",
    """
    SELECT CAST(regexp_extract(r, 'bytes=?(\\d+)-(\\d+)', 1) AS BIGINT) AS byte_start,
           CAST(regexp_extract(r, 'bytes=?(\\d+)-(\\d+)', 2) AS BIGINT) AS byte_end,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM (SELECT printf('bytes=%d-%d', event_id % 7, 10 + event_id % 13) AS r
          FROM events)
    GROUP BY 1, 2
    """,
)
def _p5(spark, sf):
    from s3_log_parser_spark.functions.parsing import parse_range

    df = _t(spark, sf, "events").select(
        F.format_string(
            "bytes=%d-%d", F.col("event_id") % 7, F.lit(10) + F.col("event_id") % 13
        ).alias("r")
    )
    s, e = parse_range("r")
    return (
        df.select(s.alias("byte_start"), e.alias("byte_end"))
        .groupBy("byte_start", "byte_end")
        .agg(F.count("*").alias("count"))
    )


@q(
    "p6_substring_predicate",
    """
    SELECT source,
           CAST(SUM(CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM documents GROUP BY source
    """,
)
def _p6(spark, sf):
    from s3_log_parser_spark.functions.parsing import contains_pattern

    return (
        _t(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.sum(contains_pattern("text", "spark")).cast("long").alias("n_match"),
            F.count("*").alias("n_total"),
        )
    )


@q(
    "p7_first_segment",
    """
    SELECT regexp_extract('/' || text, '^/?([^/]*)', 1) AS seg,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM (SELECT replace(text, ' ', '/') AS text FROM documents) GROUP BY 1
    """,
)
def _p7(spark, sf):
    # P7 extract_path: first path segment of a synthesized /-path
    from s3_log_parser_spark.functions.hashes import first_path_segment

    path = F.concat(F.lit("/"), F.regexp_replace(F.col("text"), " ", "/"))
    return (
        _t(spark, sf, "documents")
        .select(first_path_segment(path).alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").alias("count"))
    )


# ===========================================================================
# §2.3 encodings
# ===========================================================================


@q(
    "e1_epoch_conversion",
    """
    SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_unix, event_id
    FROM events WHERE event_id < 500
    """,
)
def _e1(spark, sf):
    return (
        _t(spark, sf, "events")
        .filter(F.col("event_id") < 500)
        .select(F.unix_timestamp("ts").alias("ts_unix"), "event_id")
    )


@q(
    "e2_djb2_dictionary_hash",
    f"""
    SELECT source, {_djb2_sql('source')} AS src_hash,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM documents GROUP BY source
    """,
)
def _e2(spark, sf):
    # E2: the DJB2 kernel (Catalyst expr form, parity-tested against
    # the byte-exact pure-Python djb2_py in tests/test_hashes.py)
    from s3_log_parser_spark.functions.hashes import djb2_expr

    return (
        _t(spark, sf, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("count"))
        .select("source", djb2_expr("source").alias("src_hash"), "count")
    )


@q(
    "e3_kb_quantization",
    """
    SELECT CAST(FLOOR(TRUNC(l_extendedprice) / 1024) AS BIGINT) AS price_kb,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM lineitem GROUP BY 1
    """,
)
def _e3(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .select(
            F.floor(F.col("l_extendedprice").cast("long") / 1024).alias("price_kb")
        )
        .groupBy("price_kb")
        .agg(F.count("*").alias("count"))
    )


@q(
    "e6_completion_percent",
    """
    SELECT CAST(CASE WHEN TRUNC(l_extendedprice) = 0 THEN 0
                ELSE FLOOR(TRUNC(l_quantity) * 100
                           / TRUNC(l_extendedprice)) END AS BIGINT)
             AS pct,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM lineitem GROUP BY 1
    """,
)
def _e6(spark, sf):
    size = F.col("l_extendedprice").cast("long")
    sent = F.col("l_quantity").cast("long")
    pct = (
        F.when(size == 0, F.lit(0))
        .otherwise(F.floor(sent * 100 / size))
        .cast("long")
    )
    return (
        _t(spark, sf, "lineitem")
        .select(pct.alias("pct"))
        .groupBy("pct")
        .agg(F.count("*").alias("count"))
    )


@q(
    "e7_pattern_bank_classify",
    """
    SELECT CAST(CASE WHEN contains(text, 'spark') THEN 1
                     WHEN contains(text, 'window') THEN 2
                     WHEN contains(text, 'merge') THEN 3
                     WHEN contains(text, 'vector') THEN 4
                     ELSE 0 END AS BIGINT) AS system_id,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM documents GROUP BY 1
    """,
)
def _e7(spark, sf):
    # E7 shape: ordered pattern bank broadcast as ONE priority-sorted
    # array row; min-priority winner resolved by an array expression
    # (the north_star enrichment form — zero per-row-key exchange, the
    # only shuffle is the final tiny group-count), verified against the
    # CASE WHEN oracle
    from s3_log_parser_spark.operators.enrich import bank_winner

    from s3_log_parser_spark.session import literal_frame

    docs = _t(spark, sf, "documents")
    # literal plan, not createDataFrame: a LogicalRDD bank costs a
    # Python-worker task per broadcast build (guide §4)
    bank = literal_frame(
        spark,
        [("spark", 1, 0), ("window", 2, 1), ("merge", 3, 2), ("vector", 4, 3)],
        "pattern string, sid int, priority int",
    ).agg(
        F.sort_array(
            F.collect_list(F.struct("priority", "pattern", F.col("sid")))
        ).alias("_bank")
    )
    enriched = docs.join(F.broadcast(bank)).select(
        bank_winner(F.col("text"), F.col("_bank"), 0).cast("long").alias("system_id")
    )
    return enriched.groupBy("system_id").agg(F.count("*").alias("count"))


@q(
    "e8_two_level_platform",
    """
    SELECT CAST(os_id * 256 + dev_id AS BIGINT) AS platform_id,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM (
      SELECT CASE WHEN contains(text, 'table') THEN 1
                  WHEN contains(text, 'row') THEN 2
                  WHEN contains(text, 'batch') THEN 3 ELSE 0 END AS os_id,
             CASE WHEN contains(text, 'scan') THEN 1
                  WHEN contains(text, 'sort') THEN 2 ELSE 0 END AS dev_id
      FROM documents)
    GROUP BY 1
    """,
)
def _e8(spark, sf):
    t = F.col("text")
    os_id = (
        F.when(t.contains("table"), 1)
        .when(t.contains("row"), 2)
        .when(t.contains("batch"), 3)
        .otherwise(0)
    )
    dev_id = F.when(t.contains("scan"), 1).when(t.contains("sort"), 2).otherwise(0)
    return (
        _t(spark, sf, "documents")
        .select((os_id * 256 + dev_id).cast("long").alias("platform_id"))
        .groupBy("platform_id")
        .agg(F.count("*").alias("count"))
    )


@q(
    "f2_format_hash_hex",
    f"""
    SELECT source, printf('%08x', {_djb2_sql('source')}) AS hash_hex
    FROM (SELECT DISTINCT source FROM documents)
    """,
)
def _f2(spark, sf):
    from s3_log_parser_spark.functions.hashes import djb2_expr

    return (
        _t(spark, sf, "documents")
        .select("source")
        .distinct()
        .select(
            "source",
            F.lower(F.format_string("%08x", djb2_expr("source"))).alias("hash_hex"),
        )
    )


# ===========================================================================
# §2.5 aggregations
# ===========================================================================


@q(
    "a1_group_count",
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS count FROM events GROUP BY 1",
)
def _a1(spark, sf):
    from s3_log_parser_spark.operators.aggregate import group_count

    return group_count(_t(spark, sf, "events"), "event_type")


@q(
    "a2_day_bucket_count",
    """
    SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM events GROUP BY 1
    """,
)
def _a2(spark, sf):
    from s3_log_parser_spark.operators.aggregate import day_key, group_count

    df = _t(spark, sf, "events").select(
        day_key(F.unix_timestamp("ts")).alias("day_bucket")
    )
    return group_count(df, "day_bucket")


@q(
    "a3_global_counts",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_keys
    FROM events
    """,
)
def _a3(spark, sf):
    return _t(spark, sf, "events").agg(
        F.count("*").alias("total_rows"),
        F.count_distinct("user_id").alias("distinct_keys"),
    )


@q(
    "a4_distinct_pairs",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS distinct_pairs FROM
      (SELECT DISTINCT user_id, event_type FROM events)
    """,
)
def _a4(spark, sf):
    # A4: the exact keyed-distinct the reference's hash set approximates
    return (
        _t(spark, sf, "events")
        .select("user_id", "event_type")
        .distinct()
        .agg(F.count("*").alias("distinct_pairs"))
    )


# ===========================================================================
# §2.4 joins
# ===========================================================================


@q(
    "j1_broadcast_dim_enrich",
    """
    SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def _j1(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
        )
    )


@q(
    "j2_anti_join",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers_no_orders
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    """,
)
def _j2(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    n = _t(spark, sf, "nation")
    no_orders = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        no_orders.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers_no_orders"))
    )


@q(
    "j3_salted_skew_join",
    """
    SELECT o_orderpriority, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def _j3(spark, sf):
    # salting demo: fact side gets salt = hash(pk) % NSALT, dim side is
    # exploded ×NSALT → same result as the plain join the oracle runs,
    # but hot keys split across NSALT reducers (north_rule skew policy)
    NSALT = 4
    li = _t(spark, sf, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(NSALT))
    )
    o = (
        _t(spark, sf, "orders")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(NSALT - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    return (
        li.join(
            o,
            (li["salt"] == o["salt"]) & (li["l_orderkey"] == o["o_orderkey"]),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )


# ===========================================================================
# §2.6/2.9 windows / stateful
# ===========================================================================


@q(
    "st1_first_occurrence",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS first_events
    FROM (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn = 1 GROUP BY event_type
    """,
)
def _st1(spark, sf):
    from s3_log_parser_spark.operators.flags import first_occurrence

    df = first_occurrence(
        _t(spark, sf, "events"), keys=("user_id",), order=("ts", "event_id")
    )
    return (
        df.filter("is_first")
        .groupBy("event_type")
        .agg(F.count("*").alias("first_events"))
    )


@q(
    "st2_chunk_flags",
    """
    SELECT CAST(flags AS BIGINT) AS flags, CAST(COUNT(*) AS BIGINT) AS count
    FROM (
      SELECT CASE
        WHEN http != 206 THEN 0
        WHEN byte_end >= object_size -
             (CASE WHEN object_size < 1048576 THEN 1000 ELSE 1048576 END) THEN 8
        WHEN byte_start = 0 THEN 2
        ELSE 4 END AS flags
      FROM (
        SELECT CASE WHEN event_id % 7 = 0 THEN 206 ELSE 200 END AS http,
               CAST(event_id % 3 AS BIGINT) * 500000 AS byte_start,
               CAST(event_id % 3 AS BIGINT) * 500000 + 400000 +
                 (event_id % 5) * 200000 AS byte_end,
               CAST(2000000 AS BIGINT) AS object_size
        FROM events))
    GROUP BY 1
    """,
)
def _st2(spark, sf):
    # ST2 semantics over synthesized ranges (dedup leg exercised
    # separately in st1; is_first=False here so START=2 not 3)
    from s3_log_parser_spark.operators.flags import chunk_flags

    e = _t(spark, sf, "events")
    http = F.when(F.col("event_id") % 7 == 0, 206).otherwise(200)
    bs = (F.col("event_id") % 3).cast("long") * 500000
    be = bs + 400000 + (F.col("event_id") % 5).cast("long") * 200000
    size = F.lit(2000000).cast("long")
    return (
        e.select(
            chunk_flags(http, bs, be, size, F.lit(False)).cast("long").alias("flags")
        )
        .groupBy("flags")
        .agg(F.count("*").alias("count"))
    )


@q(
    "w1_stable_turn_ordering",
    """
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS BIGINT) AS turn_rank
    FROM events WHERE user_id < 10
    """,
)
def _w1(spark, sf):
    # the north_rule's stable turn ordering window (§2.6)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "user_id",
            "event_id",
            F.row_number().over(w).cast("long").alias("turn_rank"),
        )
    )


# ===========================================================================
# §2.7 routing
# ===========================================================================


@q(
    "route_fanout_counts",
    """
    SELECT route, CAST(COUNT(*) AS BIGINT) AS count FROM (
      SELECT CASE WHEN event_type = 'error' THEN 'rejects'
                  WHEN value >= 50 THEN 'high_value'
                  ELSE 'normal' END AS route
      FROM events)
    GROUP BY route
    """,
)
def _route(spark, sf):
    # the router's predicate fan-out (disjoint routes; identity route
    # omitted). Mirrors operators/router.py::default_routes shape.
    route = (
        F.when(F.col("event_type") == "error", "rejects")
        .when(F.col("value") >= 50, "high_value")
        .otherwise("normal")
    )
    return (
        _t(spark, sf, "events")
        .select(route.alias("route"))
        .groupBy("route")
        .agg(F.count("*").alias("count"))
    )


# ===========================================================================
# training-data suite: dedup / similarity / text / multimodal
# ===========================================================================

# shared DuckDB CTE fragments ------------------------------------------------

# distinct shingle hashes of word-3-gram shingles of documents.text:
# a shingle's hash is a DJB2 fold over its tokens' DJB2 digests
# (h = 5381; h = (h*33 + digest) mod 2^32) — same fold, same order as
# operators/dedup.shingle_hashes; rows with < 3 tokens fold over all
# their tokens
_DJB2_FOLD = "(h, d) -> (h * 33 + d) % 4294967296"
_SHINGLE_CTE = f"""
    WITH toks AS (
      SELECT doc_id, source, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, source,
             list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), sh AS (
      SELECT doc_id, source,
        list_distinct(
          CASE WHEN ntk >= 3
               THEN list_transform(generate_series(1, ntk - 2),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+2]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    )
"""

_MINHASH_P = 4294967311


def _minhash_cols_sql(k: int = 8) -> str:
    cols = []
    for i in range(k):
        a, b = 2 * i + 1, i * i + 7
        cols.append(
            f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MINHASH_P}))"
            f" AS mh_{i}"
        )
    return ", ".join(cols)


@q(
    "dedup_exact_groups",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS BIGINT)
             AS n_dups
    FROM documents
    """,
)
def _dx(spark, sf):
    # exact-dedup accounting (the keep-one-representative variant is
    # operators/dedup.exact_dedup, pinned by tests)
    d = _t(spark, sf, "documents")
    key = F.md5(F.lower(F.trim(F.col("text"))))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(key).alias("n_distinct"),
        (F.count("*") - F.count_distinct(key)).alias("n_dups"),
    )


@q(
    "dedup_minhash_signatures",
    _SHINGLE_CTE
    + f"""
    SELECT doc_id, {_minhash_cols_sql(8)} FROM sh WHERE doc_id < 100
    """,
)
def _dmh(spark, sf):
    from s3_log_parser_spark.operators.dedup import minhash_signatures_df

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return minhash_signatures_df(d, "doc_id", "text", n=3, k=8).withColumnRenamed(
        "id", "doc_id"
    )


@q(
    "dedup_minhash_lsh_pairs",
    _SHINGLE_CTE
    + f"""
    , sigs AS (SELECT doc_id, {_minhash_cols_sql(8)} FROM sh),
    bands AS (
      SELECT doc_id, 0 AS band, mh_0 AS s1, mh_1 AS s2 FROM sigs UNION ALL
      SELECT doc_id, 1, mh_2, mh_3 FROM sigs UNION ALL
      SELECT doc_id, 2, mh_4, mh_5 FROM sigs UNION ALL
      SELECT doc_id, 3, mh_6, mh_7 FROM sigs
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.s1 = b.s1 AND a.s2 = b.s2
         AND a.doc_id < b.doc_id
    """,
)
def _dlsh(spark, sf):
    from s3_log_parser_spark.operators.dedup import minhash_candidates

    return minhash_candidates(
        _t(spark, sf, "documents"), id_col="doc_id", text_col="text", k=8
    )


@q(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(FLOOR(len(list_intersect(a.hs, b.hs)) * 1000.0
                      / len(list_distinct(a.hs || b.hs))) AS BIGINT)
             AS jaccard_x1000
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE FLOOR(len(list_intersect(a.hs, b.hs)) * 1000.0
                / len(list_distinct(a.hs || b.hs))) >= 10
    """,
)
def _djac(spark, sf):
    from s3_log_parser_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf, "documents"),
        id_col="doc_id",
        text_col="text",
        n=3,
        threshold_x1000=10,
        group_col="source",
    )


def _simhash_sql(bits: int = 16) -> str:
    # bit j = parity of the universal hash ((2j+1)·h + j²+7) mod P —
    # mirrors dedup._simhash_bit (raw bit extraction would zero bits
    # ≥ 32: DJB2 digests are 32-bit, and constant upper bands make the
    # banded join all-pairs)
    terms = []
    for j in range(bits):
        # bit 63 is the sign bit: the BIGINT literal must be the C-style
        # min-int expression (a bare -9223372036854775808 parses as
        # -(INT128 literal) and fails the BIGINT cast in DuckDB) —
        # mirrors Spark's two's-complement -(1<<63) in simhash_df
        lit = f"({-(1 << 63) + 1}::BIGINT - 1)" if j == 63 else str(1 << j)
        g = f"((({2 * j + 1} * h + {j * j + 7}) % 4294967311) % 2)"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(hs, h -> {g} * 2 - 1)) > 0"
            f" THEN {lit} ELSE 0 END)"
        )
    return " + ".join(terms)


@q(
    "dedup_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents WHERE doc_id < 100
    ), th AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS hs FROM toks
    )
    SELECT doc_id, CAST({_simhash_sql(16)} AS BIGINT) AS simhash16 FROM th
    """,
)
def _dsim(spark, sf):
    from s3_log_parser_spark.operators.dedup import simhash_df

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return simhash_df(d, "doc_id", "text", bits=16).select(
        F.col("id").alias("doc_id"), F.col("simhash").alias("simhash16")
    )


def _lsh_weights(k: int, dim: int) -> list[list[int]]:
    return [
        [((k_ * 2654435761 + j * 40503) % 2001) - 1000 for j in range(dim)]
        for k_ in range(k)
    ]


def _lsh_bucket_sql(vec: str, n_planes: int = 4, dim: int = 64) -> str:
    ws = _lsh_weights(n_planes, dim)
    terms = []
    for kk in range(n_planes):
        wlit = "[" + ", ".join(str(w) for w in ws[kk]) + "]"
        s = (
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> {vec}[i]::DOUBLE * ({wlit}::DOUBLE[])[i]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {s} > 0 THEN {1 << kk} ELSE 0 END)")
    return " + ".join(terms)


# fold-left cosine fragments (index-order summation == Spark aggregate())
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def _cos_x1m_sql(a: str, b: str) -> str:
    return (
        f"CAST(FLOOR({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * "
        f"sqrt({_dot_sql(b, b)})) * 1000000) AS BIGINT)"
    )


@q(
    "dedup_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents WHERE doc_id < 300
    ), th AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS hs FROM toks
    ), sh AS (
      SELECT doc_id, CAST({_simhash_sql(16)} AS BIGINT) AS sh FROM th
    ), bands AS (
      SELECT doc_id, sh, 0 AS band, (sh >> 0) & 15 AS val FROM sh UNION ALL
      SELECT doc_id, sh, 1, (sh >> 4) & 15 FROM sh UNION ALL
      SELECT doc_id, sh, 2, (sh >> 8) & 15 FROM sh UNION ALL
      SELECT doc_id, sh, 3, (sh >> 12) & 15 FROM sh
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def _dsimp(spark, sf):
    # SimHash banding, 16-bit oracle-parity mode: hamming-≤3 candidate
    # pairs via 4×4-bit band bucketing (lossless by pigeonhole) + exact
    # hamming verify. NOT the scale default — see dedup_simhash_pairs_64
    from s3_log_parser_spark.operators.dedup import simhash_pairs

    # subset: 16/4 banding is candidate-degenerate BY DESIGN (64 join
    # keys — the reason it is no longer the default); a 300-doc slice
    # pins cross-engine parity without benching an all-pairs join
    return simhash_pairs(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 300),
        "doc_id", "text", bits=16, band_bits=4, max_hamming=3,
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@q(
    "dedup_simhash_pairs_64",
    f"""
    WITH toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), th AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS hs FROM toks
    ), sh AS (
      SELECT doc_id, CAST({_simhash_sql(64)} AS BIGINT) AS sh FROM th
    ), bands AS (
      SELECT doc_id, sh, 0 AS band, (sh >> 0) & 65535 AS val FROM sh UNION ALL
      SELECT doc_id, sh, 1, (sh >> 16) & 65535 FROM sh UNION ALL
      SELECT doc_id, sh, 2, (sh >> 32) & 65535 FROM sh UNION ALL
      SELECT doc_id, sh, 3, (sh >> 48) & 65535 FROM sh
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def _dsimp64(spark, sf):
    # the PRODUCTION simhash geometry (and the simhash_pairs default,
    # VERDICT r3 #1): 64-bit signatures, 4×16-bit bands → 65,536 join
    # keys per band, so banded candidates stay sub-quadratic at scale
    # (the 16-bit mode above has 64 join keys total ≈ all-pairs).
    # DuckDB >> is arithmetic on negative BIGINT, same as Spark's
    # shiftright, so the sign-bit band (48..63) agrees cross-engine.
    from s3_log_parser_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf, "documents"), "doc_id", "text").select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@q(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_x1m_sql('a.embedding', 'b.embedding')} AS cosine_x1m
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_x1m_sql('a.embedding', 'b.embedding')} >= 250000
    """,
)
def _demb(spark, sf):
    from s3_log_parser_spark.operators.dedup import embedding_near_dups

    return embedding_near_dups(
        _t(spark, sf, "embeddings"), threshold_x1m=250_000
    )


@q(
    "dedup_embedding_lsh",
    f"""
    WITH v AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bkt
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_x1m_sql('a.embedding', 'b.embedding')} AS cosine_x1m
    FROM v a JOIN v b
      ON list_contains([a.bkt, xor(a.bkt, 1), xor(a.bkt, 2),
                        xor(a.bkt, 4), xor(a.bkt, 8)], b.bkt)
         AND a.vec_id < b.vec_id
    WHERE {_cos_x1m_sql('a.embedding', 'b.embedding')} >= 250000
    """,
)
def _demb_lsh(spark, sf):
    # the 100 TB dedup path: LSH-bucketed corpus×corpus self-join
    # (+XOR-1 probes) — no broadcast, no all-pairs; recall vs the
    # brute-force query is pinned in tests/test_dedup.py
    from s3_log_parser_spark.operators.dedup import embedding_near_dups_bucketed

    return embedding_near_dups_bucketed(
        _t(spark, sf, "embeddings"),
        threshold_x1m=250_000, n_planes=4, dim=64, probe_radius=1,
    )


@q(
    "knn_bruteforce_topk",
    f"""
    SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cosine_x1m FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             {_cos_x1m_sql('q.embedding', 'c.embedding')} AS cosine_x1m,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_x1m_sql('q.embedding', 'c.embedding')} DESC,
                        c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 5)
    WHERE rank <= 5
    """,
)
def _knn(spark, sf):
    from s3_log_parser_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select("q_id", F.col("rank").cast("long").alias("rank"), "c_id", "cosine_x1m")


_QUANT_CTE = """
    WITH mxs AS (
      SELECT vec_id, embedding,
             list_reduce(
               list_prepend(0.0::DOUBLE,
                 list_transform(embedding, x -> abs(x::DOUBLE))),
               (a, x) -> greatest(a, x)) AS mx
      FROM embeddings
    ), qv AS (
      SELECT vec_id,
        CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0::BIGINT)
             ELSE list_transform(embedding,
                    x -> CAST(floor(x::DOUBLE / (mx / 127.0) + 0.5) AS BIGINT))
        END AS q
      FROM mxs
    )
"""


@q(
    "knn_quantized_topk",
    _QUANT_CTE
    + f"""
    SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cosine_x1m FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             {_cos_x1m_sql('q.q', 'c.q')} AS cosine_x1m,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_x1m_sql('q.q', 'c.q')} DESC,
                        c.vec_id ASC) AS rank
      FROM qv q JOIN qv c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 5)
    WHERE rank <= 5
    """,
)
def _knn_quant(spark, sf):
    # int8-quantized top-k: 4× smaller corpus, exact integer dot
    # products; quantization (floor-half-up, fold-left max) reproduced
    # bit-for-bit by the oracle
    from s3_log_parser_spark.operators.similarity import cosine_topk_quantized

    emb = _t(spark, sf, "embeddings")
    out = cosine_topk_quantized(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select(
        "q_id", F.col("rank").cast("long").alias("rank"), "c_id", "cosine_x1m"
    )


@q(
    "ann_lsh_buckets",
    f"""
    SELECT vec_id, CAST({_lsh_bucket_sql('embedding')} AS BIGINT) AS lsh_bucket
    FROM embeddings
    """,
)
def _annb(spark, sf):
    from s3_log_parser_spark.operators.similarity import with_lsh_bucket

    return with_lsh_bucket(
        _t(spark, sf, "embeddings"), n_planes=4, dim=64
    ).select("vec_id", F.col("lsh_bucket").cast("long").alias("lsh_bucket"))


@q(
    "ann_lsh_topk",
    f"""
    WITH cb AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bkt
      FROM embeddings
    ), qb AS (
      SELECT vec_id, embedding,
             [bkt, xor(bkt, 1), xor(bkt, 2), xor(bkt, 4), xor(bkt, 8)] AS probes
      FROM cb WHERE vec_id < 5
    )
    SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cosine_x1m FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             {_cos_x1m_sql('q.embedding', 'c.embedding')} AS cosine_x1m,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_x1m_sql('q.embedding', 'c.embedding')} DESC,
                        c.vec_id ASC) AS rank
      FROM qb q JOIN cb c
        ON list_contains(q.probes, c.bkt) AND q.vec_id != c.vec_id)
    WHERE rank <= 5
    """,
)
def _annk(spark, sf):
    # fully deterministic (integer hyperplanes + integer cosine +
    # id tie-break) → exact DuckDB oracle; recall vs brute force is
    # additionally pinned by tests/test_similarity.py
    from s3_log_parser_spark.operators.similarity import ann_lsh_bucketed

    emb = _t(spark, sf, "embeddings")
    out = ann_lsh_bucketed(emb, emb.filter(F.col("vec_id") < 5), k=5)
    return out.select(
        "q_id", F.col("rank").cast("long").alias("rank"), "c_id", "cosine_x1m"
    )


_IVF_CENT_RANK_SQL = "((vec_id::BIGINT % 2147483648) * 2654435761) % 4294967296"


@q(
    "ivf_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings
      ORDER BY {_IVF_CENT_RANK_SQL}, vec_id
      LIMIT 8
    ), cassign AS (
      SELECT vec_id AS c_id, embedding AS c_vec, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_x1m_sql('e.embedding', 'cent_vec')} DESC,
                          cent_id ASC) AS r
        FROM embeddings e CROSS JOIN cent)
      WHERE r = 1
    ), qassign AS (
      SELECT vec_id AS q_id, embedding AS q_vec, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_x1m_sql('e.embedding', 'cent_vec')} DESC,
                          cent_id ASC) AS r
        FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 5)
      WHERE r <= 2
    )
    SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cosine_x1m FROM (
      SELECT q_id, c_id, {_cos_x1m_sql('q_vec', 'c_vec')} AS cosine_x1m,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY {_cos_x1m_sql('q_vec', 'c_vec')} DESC, c_id ASC) AS rank
      FROM (SELECT DISTINCT q.q_id, q.q_vec, c.c_id, c.c_vec
            FROM qassign q JOIN cassign c
              ON q.cell = c.cell AND q.q_id != c.c_id))
    WHERE rank <= 5
    """,
)
def _ivfk(spark, sf):
    # deterministic stratified centroids (Knuth-hash pick across the id
    # space) make the whole IVF pipeline cross-engine exact
    from s3_log_parser_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=8, nprobe=2)
    return out.select(
        "q_id", F.col("rank").cast("long").alias("rank"), "c_id", "cosine_x1m"
    )


@q(
    "semantic_dedup_flags",
    f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec
      FROM embeddings
      ORDER BY {_IVF_CENT_RANK_SQL}, vec_id
      LIMIT 8
    ), cassign AS (
      SELECT vec_id AS c_id, embedding AS c_vec, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_x1m_sql('e.embedding', 'cent_vec')} DESC,
                          cent_id ASC) AS r
        FROM embeddings e CROSS JOIN cent)
      WHERE r = 1
    ), dropped AS (
      SELECT DISTINCT b.c_id FROM cassign a JOIN cassign b
        ON a.cell = b.cell AND a.c_id < b.c_id
      WHERE {_cos_x1m_sql('a.c_vec', 'b.c_vec')} >= 300000
    )
    SELECT c_id AS vec_id, cell,
           c_id NOT IN (SELECT c_id FROM dropped) AS kept
    FROM cassign
    """,
)
def _semdedup(spark, sf):
    # SemDeDup (arXiv:2303.09540) re-expressed Spark-first: the
    # deterministic IVF cell assignment bounds the pair comparison to
    # within-cell self-joins (O(Σ cell²), never all-pairs), integer
    # cosine verify, pair drop rule. threshold tuned to the synthetic
    # embedding spread (within-cell cosines top out ~0.51); the
    # production default is 0.95-ish on real embeddings.
    from s3_log_parser_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf, "embeddings"), threshold_x1m=300_000, n_cells=8
    )


# --- text analysis ----------------------------------------------------------


@q(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST(len({_toks_sql('text')}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe
    FROM documents
    """,
)
def _ttok(spark, sf):
    from s3_log_parser_spark.functions.text import bpe_token_count, token_count

    return _t(spark, sf, "documents").select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        bpe_token_count("text").cast("long").alias("n_bpe"),
    )


_GOLDEN_BPE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "bpe_counts_sf001.parquet"
)


@q(
    "text_bpe_real_counts",
    f"""
    SELECT doc_id, CAST(n_bpe_real AS BIGINT) AS n_bpe_real
    FROM read_parquet('{_GOLDEN_BPE}')
    """,
)
def _tbpe(spark, sf):
    # Spark recomputes the merge-loop BPE (pandas UDF over the committed
    # 32,768-merge table); DuckDB reads the committed golden counts
    # produced by the pure-Python reference on the same sf0.01 fixture
    # — an end-to-end pin of the non-SQL tokenizer (same pattern as
    # pipeline_slim_status)
    from s3_log_parser_spark.functions.bpe import bpe_token_count_real

    return _t(spark, sf, "documents").select(
        "doc_id", bpe_token_count_real("text").alias("n_bpe_real")
    )


_GOLDEN_BPE_IDS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "bpe_ids_sf001.parquet"
)


@q(
    "text_bpe_encode",
    f"""
    SELECT doc_id, CAST(n_ids AS BIGINT) AS n_ids,
           CAST(ids_hash AS BIGINT) AS ids_hash
    FROM read_parquet('{_GOLDEN_BPE_IDS}')
    """,
)
def _tbpe_ids(spark, sf):
    # token-ID materialization (what a training pipeline actually
    # ships): the UDF emits the id array once; n_ids and the DJB2 fold
    # over the first 64 ids are pure-Catalyst derivations of that one
    # column. Golden produced by tools/make_bpe_golden.py from the
    # pure-Python reference encoder — pins both sequence ORDER and
    # values, not just counts.
    from s3_log_parser_spark.functions.bpe import bpe_token_ids

    ids = _t(spark, sf, "documents").select(
        "doc_id", bpe_token_ids("text").alias("_ids")
    )
    return ids.select(
        "doc_id",
        F.size("_ids").cast("long").alias("n_ids"),
        F.aggregate(
            F.slice("_ids", 1, 64),
            F.lit(5381).cast("long"),
            lambda acc, d: F.pmod(acc * 33 + d, F.lit(1 << 32)),
        ).cast("long").alias("ids_hash"),
    )


_SW = {
    "en": "['the','a','of','and','to','in','is']",
    "de": "['der','die','das','und','nicht','ein']",
    "fr": "['le','la','et','les','des','une']",
    "es": "['el','los','las','una','que','y']",
}


def _sw_hits_sql(lang: str) -> str:
    return (
        f"len(list_filter({_toks_sql('text')}, "
        f"t -> list_contains({_SW[lang]}, lower(t))))"
    )


@q(
    "text_quality_features",
    f"""
    WITH f AS (
      SELECT doc_id, {_toks_sql('text')} AS tk,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
             {_sw_hits_sql('en')} AS sw
      FROM documents
    )
    SELECT doc_id,
      CAST(len(tk) AS BIGINT) AS n_tokens,
      CAST(FLOOR(len(list_distinct(tk)) * 1000.0
                 / greatest(len(tk), 1)) AS BIGINT) AS distinct_ratio_x1000,
      CAST(FLOOR(list_sum(list_prepend(0, list_transform(tk, t -> length(t))))
                 * 1000.0 / greatest(len(tk), 1)) AS BIGINT)
        AS mean_token_len_x1000,
      CAST(punct AS BIGINT) AS punct_count,
      CAST(FLOOR(sw * 1000.0 / greatest(len(tk), 1)) AS BIGINT)
        AS stopword_ratio_x1000
    FROM f
    """,
)
def _tqual(spark, sf):
    from s3_log_parser_spark.functions.text import quality_features

    feats = quality_features("text")
    return _t(spark, sf, "documents").select(
        "doc_id",
        feats["n_tokens"].cast("long").alias("n_tokens"),
        feats["distinct_ratio_x1000"].alias("distinct_ratio_x1000"),
        feats["mean_token_len_x1000"].alias("mean_token_len_x1000"),
        feats["punct_count"].cast("long").alias("punct_count"),
        feats["stopword_ratio_x1000"].alias("stopword_ratio_x1000"),
    )


@q(
    "text_lang_guess",
    f"""
    WITH s AS (
      SELECT doc_id, lang, {_sw_hits_sql('en')} AS en, {_sw_hits_sql('de')} AS de,
             {_sw_hits_sql('fr')} AS fr, {_sw_hits_sql('es')} AS es
      FROM documents
    )
    SELECT CASE WHEN en = best AND best > 0 THEN 'en'
                WHEN de = best AND best > 0 THEN 'de'
                WHEN fr = best AND best > 0 THEN 'fr'
                WHEN es = best AND best > 0 THEN 'es'
                ELSE 'unknown' END AS lang_guess,
           lang,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM (SELECT *, greatest(en, de, fr, es) AS best FROM s)
    GROUP BY 1, 2
    """,
)
def _tlang(spark, sf):
    from s3_log_parser_spark.functions.text import lang_guess

    return (
        _t(spark, sf, "documents")
        .select(lang_guess("text").alias("lang_guess"), "lang")
        .groupBy("lang_guess", "lang")
        .agg(F.count("*").alias("count"))
    )


@q(
    "text_fingerprint",
    f"""
    SELECT doc_id,
      {_djb2_sql(f"array_to_string(list_sort(list_distinct({_toks_sql('text')})), ' ')")}
        AS fp
    FROM documents WHERE doc_id < 200
    """,
)
def _tfp(spark, sf):
    from s3_log_parser_spark.functions.text import fingerprint

    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", fingerprint("text").alias("fp"))
    )


# --- multimodal -------------------------------------------------------------


@q(
    "mm_media_metadata",
    f"""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(length(text) AS BIGINT) AS byte_len,
           CAST(length(text) % 640 + 16 AS BIGINT) AS width,
           CAST((length(text) * 7) % 480 + 16 AS BIGINT) AS height,
           CAST(length(text) % 30 + 1 AS BIGINT) AS n_frames,
           CAST((length(text) % 4 + 1) * 8000 AS BIGINT) AS sample_rate,
           {_djb2_sql('text')} AS content_hash
    FROM documents
    """,
)
def _mmm(spark, sf):
    # binary-column plumbing: utf-8 payload → mapInPandas metadata
    # extraction; the oracle recomputes the deterministic fake-decode
    # formulas from octet lengths (docs are ASCII → len == bytes)
    from s3_log_parser_spark.multimodal.media import (
        documents_as_media,
        extract_media_metadata,
    )

    media = documents_as_media(_t(spark, sf, "documents"))
    m = extract_media_metadata(media)
    return m.select(
        "media_id",
        "media_type",
        "byte_len",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "content_hash",
    )


@q(
    "mm_frame_sample_counts",
    """
    SELECT CAST(length(text) % 30 + 1 AS BIGINT) AS n_frames,
           CAST(SUM((length(text) % 30) // 5 + 1) AS BIGINT) AS n_sampled,
           CAST(COUNT(*) AS BIGINT) AS n_media
    FROM documents GROUP BY 1
    """,
)
def _mmf(spark, sf):
    from s3_log_parser_spark.multimodal.media import (
        documents_as_media,
        extract_media_metadata,
        frame_sample_plan,
    )

    meta = extract_media_metadata(documents_as_media(_t(spark, sf, "documents")))
    plan = frame_sample_plan(meta, every_nth=5)
    per_media = plan.groupBy("media_id").agg(F.count("*").alias("n_sampled"))
    return (
        meta.join(per_media, "media_id")
        .groupBy(F.col("n_frames").cast("long").alias("n_frames"))
        .agg(
            F.sum("n_sampled").alias("n_sampled"),
            F.count("*").alias("n_media"),
        )
    )


# --- transcript pipeline (generator + Arrow-UDF parse, oracled against
# the committed golden slim parquet of the same seed-42 10k fixture) ---------

_GOLDEN_SLIM = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "golden", "slim.parquet", "*.parquet"
)


@q(
    "pipeline_slim_status",
    f"""
    SELECT parse_status, CAST(flags AS BIGINT) AS flags,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM read_parquet('{_GOLDEN_SLIM}') GROUP BY 1, 2
    """,
)
def _pslim(spark, sf):
    # Spark recomputes the full gen→parse→enrich→flags DAG; DuckDB reads
    # the committed golden output of the identical fixture — a genuine
    # end-to-end cross-check of the non-SQL (mapInArrow) stage
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    slim = _slim10k(spark)
    return slim.groupBy("parse_status", F.col("flags").cast("long").alias("flags")).agg(
        F.count("*").alias("count")
    )


@q(
    "pipeline_sink_routing",
    f"""
    SELECT CASE WHEN parse_status != 'ok' THEN 'rejects'
                ELSE 'ok_routes' END AS route,
           CAST(COUNT(*) AS BIGINT) AS count,
           CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_tools
    FROM read_parquet('{_GOLDEN_SLIM}') GROUP BY 1
    """,
)
def _psink(spark, sf):
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    slim = _slim10k(spark)
    route = (
        F.when(F.col("parse_status") != "ok", F.lit("rejects"))
        .otherwise(F.lit("ok_routes"))
    )
    return slim.select(route.alias("route"), "tool").groupBy(
        "route"
    ).agg(F.count("*").alias("count"), F.count_distinct("tool").alias("n_tools"))


@q(
    "grouped_export_stats",
    f"""
    SELECT tool, CAST(COUNT(*) AS BIGINT) AS count,
           CAST(LEAST(COUNT(*), 100) AS BIGINT) AS n_members
    FROM read_parquet('{_GOLDEN_SLIM}') GROUP BY tool
    """,
)
def _gexp(spark, sf):
    # S6 grouped-export shape (the reference extract tool's grouped-JSON
    # document, s3extract.c:251-306) as a driver query: per-group TRUE
    # count plus capped member-list size — pins that the pre-aggregation
    # row_number cap keeps the uncapped count while bounding collected
    # members (the golden-file pin covers the JSON rendering itself)
    from s3_log_parser_spark.operators.aggregate import grouped_export
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    slim = _slim10k(spark)
    g = grouped_export(
        slim, "tool", max_rows_per_group=100,
        member_order=("conv_id", "turn_idx"),
    )
    return g.select(
        "tool",
        F.col("count").cast("long").alias("count"),
        F.size("logs").cast("long").alias("n_members"),
    )


# S3/S5 sink fidelity: the slim DAG's output written through the text
# sinks (CSV, flat JSON), read back typed, and fingerprinted — value
# corruption in serialization (timestamps, NULLs, quoting, int widths)
# changes the sums; the DuckDB side reads the committed golden parquet
_SINK_FPRINT = """
    SELECT parse_status, CAST(flags AS BIGINT) AS flags,
           CAST(COUNT(*) AS BIGINT) AS count,
           CAST(SUM(ip_hash) AS BIGINT) AS sum_ip_hash,
           CAST(SUM(key_hash) AS BIGINT) AS sum_key_hash,
           CAST(SUM(COALESCE(bytes_sent_kb, 0)) AS BIGINT) AS sum_kb,
           CAST(SUM(CAST(turn_idx AS BIGINT)) AS BIGINT) AS sum_turn_idx
    FROM read_parquet('{golden}') GROUP BY 1, 2
"""


def _sink_fingerprint(df):
    return df.groupBy(
        "parse_status", F.col("flags").cast("long").alias("flags")
    ).agg(
        F.count("*").alias("count"),
        F.sum("ip_hash").alias("sum_ip_hash"),
        F.sum("key_hash").alias("sum_key_hash"),
        F.sum(F.coalesce(F.col("bytes_sent_kb"), F.lit(0))).cast("long").alias("sum_kb"),
        F.sum(F.col("turn_idx").cast("long")).alias("sum_turn_idx"),
    )


def _sink_roundtrip(spark, fmt: str):
    import shutil
    import tempfile

    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    slim = _slim10k(spark)
    root = tempfile.mkdtemp(prefix=f"{fmt}_sink_")
    path = os.path.join(root, fmt)
    if fmt == "csv":
        slim.write.mode("overwrite").option("header", True).csv(path)
        back = spark.read.schema(slim.schema).option("header", True).csv(path)
    else:
        slim.write.mode("overwrite").json(path)
        back = spark.read.schema(slim.schema).json(path)
    res = _sink_fingerprint(back).localCheckpoint()
    shutil.rmtree(root, ignore_errors=True)
    return res


@q("csv_sink_roundtrip", _SINK_FPRINT.format(golden=_GOLDEN_SLIM))
def _csv_sink(spark, sf):
    """S3: slim → CSV sink → typed read-back; fingerprint must equal
    the committed golden parquet of the same seed-42 fixture."""
    return _sink_roundtrip(spark, "csv")


@q("json_sink_roundtrip", _SINK_FPRINT.format(golden=_GOLDEN_SLIM))
def _json_sink(spark, sf):
    """S5: slim → flat-JSON sink → typed read-back; fingerprint vs the
    committed golden parquet (s3extract.c:223-249 analog)."""
    return _sink_roundtrip(spark, "json")


@q(
    "streaming_router_parity",
    f"""
    SELECT parse_status, CAST(flags & -2 AS BIGINT) AS flags_nounique,
           CAST(COUNT(*) AS BIGINT) AS count
    FROM read_parquet('{_GOLDEN_SLIM}') GROUP BY 1, 2
    """,
)
def _stream_parity(spark, sf):
    """Engine-level streaming oracle (VERDICT r2 #9): run the
    foreachBatch router on a bounded stream of the same seed-42 10k
    fixture the committed golden slim parquet was built from; the
    routed union must equal the batch pipeline's rows. The one
    documented divergence is masked: the stream's slim rows never set
    the UNIQUE_IP bit (0x01; streaming first-occurrence dedup is the
    separate ``unique_starts_stream_exact``), so it is cleared on both
    sides of the compare."""
    import shutil
    import tempfile

    from s3_log_parser_spark.schemas import TRANSCRIPT_SCHEMA
    from s3_log_parser_spark.sources.catalog import Catalog
    from s3_log_parser_spark.sources.gen import gen_transcripts
    from s3_log_parser_spark.streaming.stream import (
        build_slim_stream,
        start_router,
    )

    root = tempfile.mkdtemp(prefix="stream_oracle_")
    src, out, ckpt = (os.path.join(root, d) for d in ("src", "out", "ckpt"))
    gen_transcripts(spark, rows=10_000).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    sq = start_router(build_slim_stream(stream), out, ckpt, trigger_once=True)
    sq.awaitTermination(600)
    cat = Catalog(spark, out)
    union = cat.read("by_tool").unionByName(cat.read("rejects"))
    res = union.groupBy(
        "parse_status",
        F.col("flags").bitwiseAND(F.lit(-2)).cast("long").alias("flags_nounique"),
    ).agg(F.count("*").alias("count"))
    res = res.localCheckpoint()  # materialize before the tmp dir goes away
    shutil.rmtree(root, ignore_errors=True)
    return res


@q(
    "text_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), r AS (
      SELECT doc_id, ntk,
        greatest(ntk - 2, 1) AS total,
        len(list_distinct(
          CASE WHEN ntk >= 3
               THEN list_transform(generate_series(1, ntk - 2),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+2]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END)) AS dst
      FROM tkh
    )
    SELECT doc_id,
           CAST(CASE WHEN ntk < 3 THEN 0
                ELSE FLOOR((total - dst) * 1000.0 / total) END AS BIGINT)
             AS rep_x1000
    FROM r
    """,
)
def _trep(spark, sf):
    # intra-doc 3-gram repetition (templated/looping text scores high)
    from s3_log_parser_spark.functions.text import repetition_x1000

    return _t(spark, sf, "documents").select(
        "doc_id", repetition_x1000("text").alias("rep_x1000")
    )


# the fixtures deliberately carry no PII, so the PII detector gets its
# oracle over a DETERMINISTIC derived view: docs with doc_id%3==0 gain
# a synthetic email, docs with doc_id%5==0 a synthetic intl phone —
# both engines build the identical string, then count matches with
# their own regex engine (patterns must equal text.PII_PATTERNS; a
# pytest pins that). VERDICT r4 next #7.
from s3_log_parser_spark.functions.text import PII_PATTERNS as _PII  # noqa: E402


@q(
    "text_pii_counts",
    f"""
    WITH pii AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0
             THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                  || '@example.com now' ELSE '' END
        || CASE WHEN doc_id % 5 = 0
             THEN ' or call +1 555 000 '
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '{_PII["email"]}')) AS BIGINT)
        AS n_email,
      CAST(len(regexp_extract_all(t, '{_PII["phone"]}')) AS BIGINT)
        AS n_phone
    FROM pii
    """,
)
def _tpii(spark, sf):
    from s3_log_parser_spark.functions.text import pii_counts

    docs = _t(spark, sf, "documents")
    derived = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact agent"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" or call +1 555 000 "),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    pc = pii_counts("t")
    return derived.select(
        "doc_id",
        pc["email"].alias("n_email"),
        pc["phone"].alias("n_phone"),
    )


@q(
    "decontamination_hits",
    f"""
    WITH toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), sh8 AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN ntk >= 8
               THEN list_transform(generate_series(1, ntk - 7),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+7]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    ), bench AS (
      SELECT DISTINCT unnest(hs) AS h FROM sh8 WHERE doc_id < 50
    ), post AS (
      SELECT doc_id, unnest(hs) AS h FROM sh8 WHERE doc_id >= 50
    )
    SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM post p JOIN bench b ON p.h = b.h
    GROUP BY p.doc_id
    """,
)
def _decontam(spark, sf):
    # benchmark decontamination: 8-gram collisions between the corpus
    # (doc_id >= 50) and the "eval set" (doc_id < 50); benchmark
    # shingle set broadcast, corpus never shuffles
    from s3_log_parser_spark.operators.decontam import contamination_hits

    docs = _t(spark, sf, "documents")
    return contamination_hits(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        n=8,
    )


# shared by incremental_dedup_stats (inline history derivation) and
# incremental_dedup_indexed (persisted DedupIndex path) — the operator
# contract is identical, only where the history state comes from differs
_INC_DEDUP_SQL = f"""
    WITH toks AS (
      SELECT doc_id, text, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, text, tk,
             list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), shc AS (
      SELECT doc_id, text,
        list_distinct(
          CASE WHEN ntk >= 3
               THEN list_transform(generate_series(1, ntk - 2),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+2]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    ), mh AS (
      SELECT doc_id, {_minhash_cols_sql(8)} FROM shc
    ), hist_dig AS (
      SELECT DISTINCT md5(lower(trim(text))) AS dig
      FROM documents WHERE doc_id < 250
    ), surv1 AS (
      SELECT doc_id FROM documents
      WHERE doc_id >= 250
        AND md5(lower(trim(text))) NOT IN (SELECT dig FROM hist_dig)
    ), cand AS (
      SELECT a.doc_id AS new_id, b.doc_id AS seen_id
      FROM mh a JOIN mh b
        ON a.doc_id IN (SELECT doc_id FROM surv1)
       AND b.doc_id < 250
       AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
         OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3)
         OR (a.mh_4 = b.mh_4 AND a.mh_5 = b.mh_5)
         OR (a.mh_6 = b.mh_6 AND a.mh_7 = b.mh_7))
    ), dup AS (
      SELECT DISTINCT c.new_id FROM cand c
      JOIN shc x ON x.doc_id = c.new_id
      JOIN shc y ON y.doc_id = c.seen_id
      WHERE FLOOR(len(list_intersect(x.hs, y.hs)) * 1000.0
                  / len(list_distinct(x.hs || y.hs))) >= 500
    ), surv AS (
      SELECT doc_id FROM surv1
      WHERE doc_id NOT IN (SELECT new_id FROM dup)
    )
    SELECT CAST((SELECT COUNT(*) FROM documents WHERE doc_id >= 250)
                AS BIGINT) AS n_new,
           CAST(COUNT(*) AS BIGINT) AS n_survive,
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_ids
    FROM surv
    """


@q("incremental_dedup_stats", _INC_DEDUP_SQL)
def _inc_dedup(spark, sf):
    # daily-ingestion dedup: the new batch (doc_id >= 250) against the
    # accepted history (doc_id < 250) — exact digest anti-join, then
    # MinHash band join new×history + exact Jaccard verify
    from s3_log_parser_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf, "documents")
    hist = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    out = incremental_dedup(new, hist, threshold_x1000=500)
    return new.agg(F.count("*").alias("n_new")).crossJoin(
        out.agg(
            F.count("*").alias("n_survive"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias("sum_ids"),
        )
    )


@q("incremental_dedup_indexed", _INC_DEDUP_SQL)
def _inc_dedup_idx(spark, sf):
    # same ingestion contract, but the history side comes from a
    # PERSISTED DedupIndex (digests/signatures/shingles parquet tables
    # written once, read back) — the 100 TB shape where per-batch cost
    # never re-derives history state (VERDICT r4 next #2); results must
    # equal the inline-derivation query bit-for-bit
    import shutil
    import tempfile

    from s3_log_parser_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    docs = _t(spark, sf, "documents")
    hist = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    root = tempfile.mkdtemp(prefix="dedup_index_")
    try:
        write_dedup_index(build_dedup_index(hist), root)
        idx = read_dedup_index(spark, root)
        out = incremental_dedup(new, index=idx, threshold_x1000=500)
        return (
            new.agg(F.count("*").alias("n_new"))
            .crossJoin(
                out.agg(
                    F.count("*").alias("n_survive"),
                    F.coalesce(F.sum("doc_id"), F.lit(0))
                    .cast("long")
                    .alias("sum_ids"),
                )
            )
            .localCheckpoint()  # the plan reads the temp index dirs
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _quality_model_oracle() -> str:
    # inline the COMMITTED trained weight table as a DuckDB list
    # literal, so the oracle pins the actual production artifact (not a
    # formula stand-in): score = bias + Σ W[djb2(tok) mod 4096 + 1]
    from s3_log_parser_spark.functions.classify import DEFAULT_BUCKETS
    from s3_log_parser_spark.functions.quality_weights import (
        BIAS_X1000,
        WEIGHTS_X1000,
    )

    wlit = "[" + ", ".join(str(v) for v in WEIGHTS_X1000) + "]"
    return f"""
    WITH w AS (SELECT {wlit} AS wt), toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    )
    SELECT doc_id,
           -- CAST: DuckDB list_sum over INTEGERs returns HUGEINT; Spark
           -- emits BIGINT, and the driver's typed-value hash diverges on
           -- representation even though the values are equal (r5 FAIL).
           CAST({BIAS_X1000} + coalesce(list_sum(
             list_transform(tk,
               t -> wt[CAST({_djb2_sql('t')} % {DEFAULT_BUCKETS} AS INTEGER)
                       + 1])), 0) AS BIGINT) AS model_score,
           CAST(({BIAS_X1000} + coalesce(list_sum(
             list_transform(tk,
               t -> wt[CAST({_djb2_sql('t')} % {DEFAULT_BUCKETS} AS INTEGER)
                       + 1])), 0)) >= 0 AS BIGINT) AS model_label
    FROM toks, w
    """


@q("quality_model_scores", _quality_model_oracle())
def _quality_model(spark, sf):
    # distilled hashed-linear quality filter (functions/classify.py):
    # the weight table rides the plan as ONE literal array and the
    # fold is row-local — zero joins/shuffles/Python, the shape a
    # model-based filter needs at 100 TB. Weights are the committed
    # tools/train_quality.py artifact (numpy logistic regression
    # distilling quality_score_x1000 >= median; ~0.90 accuracy).
    from s3_log_parser_spark.functions.classify import (
        quality_model_label,
        quality_model_score,
    )

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        quality_model_score("text").alias("model_score"),
        quality_model_label("text").cast("long").alias("model_label"),
    )


# Bloom prefilter (operators/bloom.py): m = 2^16 bits, k = 5, djb2
# parity family. The oracle rebuilds the BITMAP itself (word_idx →
# bit_or of masks) and re-derives every probe, so the per-doc maybe
# flag pins the filter's exact bit content, double-hash arithmetic
# (h1 = djb2(dig) mod m, h2 = djb2(dig||'#2') mod m | 1), word/mask
# layout, and the no-false-negative contract (maybe ≥ in_history).
_BLOOM_M = 1 << 16
@q(
    "bloom_prefilter_stats",
    f"""
    WITH hist AS (
      SELECT DISTINCT md5(lower(trim(text))) AS dig
      FROM documents WHERE doc_id % 3 <> 0
    ), hh AS (
      SELECT dig,
             {_djb2_sql('dig')} % {_BLOOM_M} AS h1,
             ({_djb2_sql("dig || '#2'")} % {_BLOOM_M}) | 1 AS h2
      FROM hist
    ), pos AS (
      SELECT (h1 + i * h2) % {_BLOOM_M} AS p
      FROM hh, unnest(generate_series(0, 4)) AS t(i)
    ), bm AS (
      SELECT p // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS word
      FROM pos GROUP BY 1
    ), batch AS (
      SELECT doc_id, md5(lower(trim(text))) AS dig
      FROM documents WHERE doc_id % 2 = 0
    ), bh AS (
      SELECT doc_id, dig,
             {_djb2_sql('dig')} % {_BLOOM_M} AS h1,
             ({_djb2_sql("dig || '#2'")} % {_BLOOM_M}) | 1 AS h2
      FROM batch
    ), bp AS (
      SELECT doc_id, dig, (h1 + i * h2) % {_BLOOM_M} AS p
      FROM bh, unnest(generate_series(0, 4)) AS t(i)
    ), chk AS (
      SELECT doc_id, dig,
             bool_and(
               (coalesce(word, 0) & (1::BIGINT << CAST(p % 32 AS INTEGER)))
               = (1::BIGINT << CAST(p % 32 AS INTEGER))) AS maybe
      FROM bp LEFT JOIN bm ON bp.p // 32 = bm.word_idx
      GROUP BY doc_id, dig
    )
    SELECT c.doc_id,
           CAST(c.maybe AS BIGINT) AS bloom_maybe,
           CAST(h.dig IS NOT NULL AS BIGINT) AS in_history
    FROM chk c LEFT JOIN hist h ON c.dig = h.dig
    """,
)
def _bloom_prefilter(spark, sf):
    # the ingestion fast path's membership sidecar, parity mode: build
    # the bitmap over history digests, probe the batch, and report per
    # doc whether the filter says maybe vs whether the digest truly is
    # in history (fixture exact-dup texts give real positives)
    from s3_log_parser_spark.operators.bloom import bloom_build, bloom_probe

    docs = _t(spark, sf, "documents")
    dig = F.md5(F.lower(F.trim(F.col("text"))))
    hist = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(dig.alias("_dig"))
        .distinct()
    )
    # materialize the (tiny) bitmap once: each of the k probe joins
    # embeds its own copy of the build subtree, so a lazy bitmap would
    # re-fold the history digests k times (in production the bitmap is
    # the persisted sidecar parquet, not a live plan)
    bm = bloom_build(hist, "_dig", _BLOOM_M, 5, "djb2").localCheckpoint()
    batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", dig.alias("_dig")
    )
    probed = bloom_probe(batch, bm, "_dig", _BLOOM_M, 5, "djb2")
    hits = hist.withColumnRenamed("_dig", "_hdig")
    return (
        probed.join(hits, probed["_dig"] == hits["_hdig"], "left")
        .select(
            "doc_id",
            F.col("bloom_maybe").cast("long").alias("bloom_maybe"),
            F.col("_hdig").isNotNull().cast("long").alias("in_history"),
        )
    )


@q(
    "key_skew_profile",
    f"""
    WITH counts AS (
      SELECT conv_hash AS k, COUNT(*) AS c
      FROM read_parquet('{_GOLDEN_SLIM}') GROUP BY conv_hash
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rk,
             COUNT(*) OVER () AS n
      FROM counts
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS total_rows,
           CAST(MAX(c) AS BIGINT) AS max_count,
           CAST(MAX(CASE WHEN rk = CEIL((n * 500) / 1000.0) THEN c END)
             AS BIGINT) AS p50_count,
           CAST(MAX(CASE WHEN rk = CEIL((n * 990) / 1000.0) THEN c END)
             AS BIGINT) AS p99_count,
           CAST(FLOOR(MAX(c) * 1000.0 / SUM(c)) AS BIGINT)
             AS top1_share_x1000
    FROM ranked
    """,
)
def _skew_profile(spark, sf):
    # skew diagnostics on the conversation key — the generator plants a
    # hot conv-0 (~10% of rows), so top1_share_x1000 exposes exactly
    # the skew the pipeline's salting/AQE handling exists for
    from s3_log_parser_spark.operators.aggregate import profile_key_skew
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    slim = _slim10k(spark)
    return profile_key_skew(slim, "conv_hash")


@q(
    "latency_percentiles",
    f"""
    WITH ranked AS (
      SELECT tool, download_time_ms AS v,
             ROW_NUMBER() OVER (PARTITION BY tool ORDER BY download_time_ms)
               AS rk,
             COUNT(*) OVER (PARTITION BY tool) AS n
      FROM read_parquet('{_GOLDEN_SLIM}')
      WHERE download_time_ms IS NOT NULL
    )
    SELECT tool, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rk = CEIL((n * 500) / 1000.0) THEN v END)
             AS BIGINT) AS p500,
           CAST(MAX(CASE WHEN rk = CEIL((n * 950) / 1000.0) THEN v END)
             AS BIGINT) AS p950,
           CAST(MAX(CASE WHEN rk = CEIL((n * 990) / 1000.0) THEN v END)
             AS BIGINT) AS p990
    FROM ranked GROUP BY tool
    """,
)
def _latency_pcts(spark, sf):
    # A5: per-tool discrete latency percentiles (value at ascending
    # rank ceil(p·n) — explicit order-statistics definition so both
    # engines agree exactly)
    from s3_log_parser_spark.operators.aggregate import percentiles_disc

    slim = _slim10k(spark)
    return percentiles_disc(slim, "tool", "download_time_ms")


@q(
    "session_stats",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) - 1 AS sid
      FROM flagged
    ), per AS (
      SELECT user_id, sid, COUNT(*) AS n,
             (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS span_sec
      FROM numbered GROUP BY 1, 2
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events,
           CAST(SUM(span_sec) AS BIGINT) AS total_span_sec
    FROM per GROUP BY user_id
    """,
)
def _sessions(spark, sf):
    # gap-based sessionization (>30 min silence starts a new session):
    # one window shuffle on the session key, microsecond-exact gap
    # compare (unix_micros ↔ epoch_us) — see operators/sessions.py
    from s3_log_parser_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf, "events"), gap_seconds=1800)


def _corpus_prep_oracle(model: bool = False) -> str:
    """the corpus-prep composition oracle; ``model=True`` adds the
    distilled hashed-linear quality model as a further filter in the
    ``clean`` stage (same inlined weight-literal technique as
    ``_quality_model_oracle`` — the oracle pins the committed trained
    artifact, not a formula stand-in)."""
    w_cte = ""
    w_from = ""
    model_cond = ""
    if model:
        from s3_log_parser_spark.functions.classify import DEFAULT_BUCKETS
        from s3_log_parser_spark.functions.quality_weights import (
            BIAS_X1000,
            WEIGHTS_X1000,
        )

        wlit = "[" + ", ".join(str(v) for v in WEIGHTS_X1000) + "]"
        w_cte = f"w AS (SELECT {wlit} AS wt), "
        w_from = ", w"
        model_cond = f"""
        AND {BIAS_X1000} + coalesce(list_sum(
              list_transform(s.tk,
                t -> wt[CAST({_djb2_sql('t')} % {DEFAULT_BUCKETS} AS INTEGER)
                        + 1])), 0) >= 0"""
    return f"""
    WITH {w_cte}dedup AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(lower(trim(text))) ORDER BY doc_id
               ) AS rn
        FROM documents
      ) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, source, text, {_toks_sql('text')} AS tk FROM dedup
    ), tkh AS (
      SELECT doc_id, source, text, tk,
             list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), shc AS (
      SELECT doc_id, source, text, tk,
        list_distinct(
          CASE WHEN ntk >= 3
               THEN list_transform(generate_series(1, ntk - 2),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+2]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    ), mh AS (
      SELECT doc_id, {_minhash_cols_sql(8)} FROM shc
    ), cand AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib FROM mh a JOIN mh b
        ON a.doc_id < b.doc_id
       AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
         OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3)
         OR (a.mh_4 = b.mh_4 AND a.mh_5 = b.mh_5)
         OR (a.mh_6 = b.mh_6 AND a.mh_7 = b.mh_7))
    ), dropped AS (
      SELECT DISTINCT c.ib AS doc_id FROM cand c
      JOIN shc a ON a.doc_id = c.ia
      JOIN shc b ON b.doc_id = c.ib
      WHERE FLOOR(len(list_intersect(a.hs, b.hs)) * 1000.0
                  / len(list_distinct(a.hs || b.hs))) >= 500
    ), clean AS (
      SELECT s.* FROM shc s{w_from}
      WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
        AND len(s.tk) >= 20
        AND FLOOR(len(list_distinct(s.tk)) * 1000.0
                  / greatest(len(s.tk), 1)) >= 330{model_cond}
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(tk)) AS BIGINT) AS sum_tokens,
           CAST(SUM(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_bpe
    FROM clean GROUP BY source
    """


@q("corpus_prep_stats", _corpus_prep_oracle())
def _corpus_prep(spark, sf):
    # the training-data pipeline composed end-to-end (exact dedup →
    # LSH near-dup removal → quality filter → per-source token budget);
    # the whole composition is deterministic and cross-engine exact
    from s3_log_parser_spark.operators.corpus import corpus_prep

    return corpus_prep(_t(spark, sf, "documents")).stats


@q("corpus_prep_model_stats", _corpus_prep_oracle(model=True))
def _corpus_prep_model(spark, sf):
    # the same composition with the distilled model filter engaged
    # (VERDICT r5 next #5): heuristic gate AND hashed-linear model
    # label, still one lazy DAG, zero extra shuffles — the model is a
    # plan-literal weight array riding the quality stage. CLI:
    # `job.py prep --model-filter`.
    from s3_log_parser_spark.operators.corpus import corpus_prep

    return corpus_prep(_t(spark, sf, "documents"), model_filter=True).stats


@q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), shc AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN ntk >= 3
               THEN list_transform(generate_series(1, ntk - 2),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+2]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    ), mh AS (
      SELECT doc_id, {_minhash_cols_sql(8)} FROM shc
    ), cand AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib FROM mh a JOIN mh b
        ON a.doc_id < b.doc_id
       AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
         OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3)
         OR (a.mh_4 = b.mh_4 AND a.mh_5 = b.mh_5)
         OR (a.mh_6 = b.mh_6 AND a.mh_7 = b.mh_7))
    ), pairs AS (
      SELECT c.ia, c.ib FROM cand c
      JOIN shc x ON x.doc_id = c.ia
      JOIN shc y ON y.doc_id = c.ib
      WHERE FLOOR(len(list_intersect(x.hs, y.hs)) * 1000.0
                  / len(list_distinct(x.hs || y.hs))) >= 500
    ), edges AS (
      SELECT ia AS src, ib AS dst FROM pairs
      UNION SELECT ib, ia FROM pairs
    ), reach(id, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(MIN(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def _dclusters(spark, sf):
    # duplicate-cluster closure: verified near-dup pairs (LSH-banded
    # candidates + exact Jaccard ≥ 0.5) → connected components via
    # hash-min label propagation; the DuckDB oracle computes the same
    # closure with a recursive CTE (min reachable id per node)
    from s3_log_parser_spark.operators.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=500, auto_block=True)
    return dup_clusters(pairs)


@q(
    "streaming_unique_starts",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(ip_hash) AS BIGINT) AS sum_ip,
           CAST(SUM(key_hash) AS BIGINT) AS sum_key
    FROM (SELECT DISTINCT ip_hash, key_hash
          FROM read_parquet('{_GOLDEN_SLIM}') WHERE flags & 1 = 1)
    """,
)
def _stream_unique(spark, sf):
    """Unbounded-state streaming ST1 (Spark's streaming dropDuplicates;
    VERDICT r3 missing #4): the emitted KEY SET over a bounded multi-batch
    replay of the seed-42 fixture must equal the batch window's
    first-occurrence key set (golden slim rows with the UNIQUE bit).
    Key-set aggregates are representative-row-independent, so the
    compare is exact even though streaming picks representatives by
    arrival order across micro-batches."""
    import shutil
    import tempfile

    from s3_log_parser_spark.schemas import TRANSCRIPT_SCHEMA
    from s3_log_parser_spark.sources.gen import gen_transcripts
    from s3_log_parser_spark.streaming.stream import (
        build_slim_stream,
        unique_starts_stream_exact,
    )

    root = tempfile.mkdtemp(prefix="stream_unique_")
    src, out, ckpt = (os.path.join(root, d) for d in ("src", "out", "ckpt"))
    # 4 files + maxFilesPerTrigger=1 → duplicates span micro-batches,
    # exercising the cross-batch state (the regime watermark-scoped
    # dedup gets wrong once keys outlive the watermark, and the files
    # are not ordered by ts)
    gen_transcripts(spark, rows=10_000).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sq = (
        unique_starts_stream_exact(build_slim_stream(stream))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(600)
    res = (
        spark.read.parquet(out)
        .select("ip_hash", "key_hash")
        .distinct()
        .agg(
            F.count("*").alias("n_unique"),
            F.sum("ip_hash").alias("sum_ip"),
            F.sum("key_hash").alias("sum_key"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(root, ignore_errors=True)
    return res


@q(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_base_cents,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-11-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def _tpch1(spark, sf):
    # the classic scan→filter→hash-agg shape (integer-scaled money)
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2024-11-01").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "sum_base_cents"
        ),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# driver-recording order: the per-round driver records CORRECTNESS rows
# for the FIRST 50 queries in dict order, so the dicts are re-ordered
# explicitly. Policy since r6 (ADVICE r5 #5): the window ROTATES every
# round — the flagship pipeline composites plus any query without a
# driver-green row yet stay pinned at the head, the rest of the window
# is filled with the queries whose last driver-recorded row is OLDEST,
# and the queries recorded green LAST round rotate out (they stay
# registered for check_oracle/judge runs, remain pytest-pinned, and the
# committed per-round ORACLE_SWEEP log covers all of them every round).
# COVERAGE.md tracks which round last recorded each query.
# ---------------------------------------------------------------------------

_DRIVER_PRIORITY = [
    # the north-star pipeline composites stay pinned INSIDE the window
    # every round (the flagship rows)
    "pipeline_slim_status",
    "pipeline_sink_routing",
    "grouped_export_stats",
    # r5's one red row (oracle HUGEINT/BIGINT type gap, fixed r6) —
    # pinned until a driver-green row is recorded
    "quality_model_scores",
    # registered past the 50-row window in r5; never driver-recorded
    "tool_cooccurrence",
    # --- r6 additions (new operators this round) ---
    "corpus_prep_model_stats",
    "semantic_dedup_flags",
    "stratified_sample_ids",
    "chunk_documents_rows",
    "bm25_topk_docs",
    "hybrid_rrf_topk",
    "text_gopher_flags",
    "importance_bucket_weights",
    "importance_doc_scores",
    "conv_dedup_rows",
    "corpus_diff_rows",
    "corpus_diff_churn",
    "cluster_canonical_rows",
    "conv_examples_stats",
    "corpus_profile_by_source",
    "text_repetition_flags",
    "importance_resample_topk",
    # the r4-green cohort, rotated back IN: their last driver-recorded
    # row is two rounds old (every one was also re-verified by the full
    # oracle sweep each round since)
    "s1_scan_filter_project",
    "p3_http_domain_clamp",
    "p5_range_header_parse",
    "p6_substring_predicate",
    "p7_first_segment",
    "e1_epoch_conversion",
    "e3_kb_quantization",
    "e6_completion_percent",
    "f2_format_hash_hex",
    "a1_group_count",
    "a2_day_bucket_count",
    "a3_global_counts",
    "a4_distinct_pairs",
    "j2_anti_join",
    "dedup_minhash_signatures",
    "dedup_simhash",
    "text_token_counts",
    "ann_lsh_buckets",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "knn_quantized_topk",
    "e8_two_level_platform",
    "w1_stable_turn_ordering",
    "dedup_ngram_jaccard",
    "text_lang_guess",
    "text_fingerprint",
    "e2_djb2_dictionary_hash",
    "text_bpe_real_counts",
    "e7_pattern_bank_classify",
    "mm_frame_sample_counts",
    "knn_bruteforce_topk",
    "ann_lsh_topk",
    "text_quality_features",
    "mm_media_metadata",
    "dedup_embedding_lsh",
    "p2_timestamp_parse_format",
    "st2_chunk_flags",
    "dedup_exact_groups",
    "csv_sink_roundtrip",
    "j3_salted_skew_join",
    "route_fanout_counts",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs_64",
    "ivf_topk",
    "st1_first_occurrence",
    "j1_broadcast_dim_enrich",
]

# recorded green in CORRECTNESS_r05 (fresh evidence) — rotated out for
# this round; the tail of _DRIVER_PRIORITY past 50 joins them at the
# head of the next rotation
_DRIVER_ROTATED_OUT = [
    "text_repetition",
    "decontamination_hits",
    "incremental_dedup_stats",
    "key_skew_profile",
    "latency_percentiles",
    "session_stats",
    "corpus_prep_stats",
    "streaming_unique_starts",
    "json_sink_roundtrip",
    "streaming_router_parity",
    "tpch_q1_pricing_summary",
    "incremental_dedup_indexed",
    "dedup_clusters",
    "text_bpe_encode",
    "text_pii_counts",
    "split_assignment_counts",
    "sample_token_budget",
    "pack_sequences_stats",
    "grouped_topk_events",
    "time_rollup_counts",
    "json_props_extract",
    "asof_join_states",
    "range_join_windows",
    "line_dedup_stats",
    "sample_mixture_counts",
    "shuffle_order_prefix",
    "pack_examples_stats",
    "text_normalize_stats",
    "bloom_prefilter_stats",
    "hll_distinct_rollup",
    "cms_heavy_hitters",
    "funnel_conversion_steps",
    "retention_cohorts",
    "anomaly_windowed_counts",
    "pivot_daily_events",
    "cube_margin_counts",
    "value_histogram_bins",
    "interarrival_gap_bins",
    "tpch_q6_forecast_revenue",
    "tpch_q3_shipping_priority",
    "audit_report",
    "histogram_quantiles",
    "time_rollup_refresh",
    "conv_stats",
    "role_transitions",
    "p1_regex_field_extract",
]


def _driver_order(names) -> list[str]:
    head = [n for n in _DRIVER_PRIORITY if n in names]
    tail = [n for n in _DRIVER_ROTATED_OUT if n in names]
    mid = [n for n in names if n not in set(head) | set(tail)]
    return head + mid + tail


# ===========================================================================
# dataset assembly: splits, budget sampling, packing (operators/sampling.py)
# ===========================================================================


@q(
    "split_assignment_counts",
    f"""
    WITH b AS (
      SELECT doc_id,
             (({_djb2_sql("'v1:' || CAST(doc_id AS VARCHAR)")}
               * 2654435 + 7) % 4294967311) % 1000 AS bkt
      FROM documents
    )
    SELECT CASE WHEN bkt < 900 THEN 'train'
                WHEN bkt < 950 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM b GROUP BY 1
    """,
)
def _split_counts(spark, sf):
    # deterministic train/val/test assignment: row-local DJB2 bucket of
    # (salt, id) — no shuffle, stable under corpus growth; both engines
    # reproduce the bucket digit-for-digit
    from s3_log_parser_spark.operators.sampling import hash_split

    return (
        hash_split(_t(spark, sf, "documents"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
    )


@q(
    "sample_token_budget",
    f"""
    WITH t AS (
      SELECT doc_id, source, len({_toks_sql('text')}) AS cnt FROM documents
    ), c AS (
      SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(cnt) AS BIGINT) AS kept_tokens
    FROM c WHERE cum - cnt < 1000 GROUP BY source
    """,
)
def _sample_budget(spark, sf):
    # deterministic prefix-by-id sampling to a per-source token budget:
    # one window per group, kept set is a stable prefix (re-runs and
    # corpus appends never reshuffle what was already kept)
    from s3_log_parser_spark.functions.text import token_count
    from s3_log_parser_spark.operators.sampling import (
        sample_to_token_budget,
    )

    kept = sample_to_token_budget(
        _t(spark, sf, "documents"), budget_tokens=1000, by="source"
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(token_count("text")).cast("long").alias("kept_tokens"),
    )


@q(
    "pack_sequences_stats",
    f"""
    WITH t AS (
      SELECT doc_id, source, len({_toks_sql('text')}) AS cnt FROM documents
    ), c AS (
      SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ), p AS (
      SELECT source, cnt, FLOOR((cum - cnt) / 256) AS bin FROM c
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
           CAST(SUM(cnt) AS BIGINT) AS sum_tokens,
           CAST(FLOOR(CAST(SUM(cnt) * 1000 AS DOUBLE)
                      / (COUNT(DISTINCT bin) * 256)) AS BIGINT)
             AS fill_x1000
    FROM p GROUP BY source
    """,
)
def _pack_stats(spark, sf):
    # context-window packing estimate under id-order concatenation per
    # source (bin of record = where the doc starts); fill_x1000 is the
    # space-utilization number a pretraining run sizes against
    from s3_log_parser_spark.operators.sampling import pack_stats

    return pack_stats(
        _t(spark, sf, "documents"), ctx_tokens=256, by="source"
    )


@q(
    "json_props_extract",
    """
    WITH b AS (
      SELECT event_type,
             CASE WHEN event_id % 97 = 0 THEN substr(props, 1, 3)
                  ELSE props END AS p
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN json_valid(p) THEN p->>'k' END) AS BIGINT)
             AS n_parsed,
           CAST(SUM(CASE WHEN json_valid(p)
                         THEN CAST(p->>'k' AS BIGINT) END) AS BIGINT)
             AS sum_k
    FROM b GROUP BY 1
    """,
)
def _json_props_extract(spark, sf):
    # semi-structured extraction from the events props JSON payload,
    # with a deterministic malformed slice (every 97th event truncated)
    # proving the null-degrade path: get_json_object returns NULL on
    # bad JSON (never throws, even ANSI-on), so corrupt rows become
    # countable NULLs instead of a failed 100 TB stage
    from s3_log_parser_spark.functions.parsing import json_field

    ev = _t(spark, sf, "events")
    p = F.when(
        F.col("event_id") % 97 == 0, F.substring("props", 1, 3)
    ).otherwise(F.col("props"))
    k = json_field(p, "k").try_cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(k).alias("n_parsed"),
        F.sum(k).alias("sum_k"),
    )


@q(
    "time_rollup_counts",
    """
    WITH base AS (
      SELECT event_type, date_trunc('minute', ts) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
               AS sum_value_x100
      FROM events GROUP BY 1, 2
    )
    SELECT 'minute' AS resolution, event_type,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           n_events, sum_value_x100
    FROM base
    UNION ALL
    SELECT 'hour', event_type,
           strftime(date_trunc('hour', b), '%Y-%m-%d %H:%M:%S'),
           CAST(SUM(n_events) AS BIGINT),
           CAST(SUM(sum_value_x100) AS BIGINT)
    FROM base GROUP BY 2, date_trunc('hour', b)
    UNION ALL
    SELECT 'day', event_type,
           strftime(date_trunc('day', b), '%Y-%m-%d %H:%M:%S'),
           CAST(SUM(n_events) AS BIGINT),
           CAST(SUM(sum_value_x100) AS BIGINT)
    FROM base GROUP BY 2, date_trunc('day', b)
    """,
)
def _time_rollup_counts(spark, sf):
    # hypertable-style multi-resolution rollup: raw scanned ONCE,
    # aggregated at minute grain; hour/day tiers derive from the
    # persisted minute tier (never from raw — the continuous-aggregate
    # hierarchy; a GROUPING SETS pass would Expand the 100 TB input 3×)
    from s3_log_parser_spark.operators.aggregate import time_rollup

    return time_rollup(_t(spark, sf, "events"))


@q(
    "time_rollup_refresh",
    """
    WITH base AS (
      SELECT event_type, date_trunc('minute', ts) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)
               AS sum_value_x100
      FROM events GROUP BY 1, 2
    )
    SELECT 'minute' AS resolution, event_type,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           n_events, sum_value_x100
    FROM base
    UNION ALL
    SELECT 'hour', event_type,
           strftime(date_trunc('hour', b), '%Y-%m-%d %H:%M:%S'),
           CAST(SUM(n_events) AS BIGINT),
           CAST(SUM(sum_value_x100) AS BIGINT)
    FROM base GROUP BY 2, date_trunc('hour', b)
    UNION ALL
    SELECT 'day', event_type,
           strftime(date_trunc('day', b), '%Y-%m-%d %H:%M:%S'),
           CAST(SUM(n_events) AS BIGINT),
           CAST(SUM(sum_value_x100) AS BIGINT)
    FROM base GROUP BY 2, date_trunc('day', b)
    """,
)
def _time_rollup_refresh(spark, sf):
    # continuous-aggregate REFRESH: the rollup built WITHOUT a late
    # slice (every 11th event), then refreshed by merging the late
    # slice's delta rollup, must equal the full single-pass rollup —
    # the oracle IS the full recompute, so the additive-merge law is
    # what the driver verifies. Raw is rescanned only for the late
    # slice; both merge inputs are aggregate-sized.
    from s3_log_parser_spark.operators.aggregate import (
        time_rollup,
        time_rollup_merge,
    )

    ev = _t(spark, sf, "events")
    on_time = ev.filter(F.col("event_id") % 11 != 0)
    late = ev.filter(F.col("event_id") % 11 == 0)
    return time_rollup_merge(time_rollup(on_time), time_rollup(late))


@q(
    "grouped_topk_events",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rank
      FROM c
    )
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 2
    """,
)
def _topk_events(spark, sf):
    # A6: per-group top-k (the reference has NO sort/limit/top-k —
    # SURVEY §2.6); deterministic total order (count desc, event_type
    # asc) so both engines pick identical rows; Spark plans a
    # WindowGroupLimit so only ≤k rows per group cross the exchange
    from s3_log_parser_spark.operators.aggregate import grouped_topk

    counts = (
        _t(spark, sf, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = grouped_topk(
        counts,
        ("user_id",),
        (F.col("n").desc(), F.col("event_type").asc()),
        k=2,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@q(
    "asof_join_states",
    """
    WITH st AS (
      SELECT user_id, ts, MAX(event_id) AS state_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), cl AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT cl.event_id, cl.user_id,
           CAST(st.state_id AS BIGINT) AS state_id
    FROM cl ASOF LEFT JOIN st
      ON cl.user_id = st.user_id AND cl.ts >= st.ts
    """,
)
def _asof_states(spark, sf):
    # as-of join: every click matched to the latest purchase state at
    # or before it (per user). Spark side is the union+window rewrite
    # (one shuffle, no range cross-join); DuckDB side is its NATIVE
    # ASOF JOIN — two entirely independent implementations of the
    # operator semantics
    from s3_log_parser_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events")
    st = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("state_id"))
    )
    cl = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(cl, st, on="ts", by=("user_id",), right_cols=("state_id",))
    return out.select("event_id", "user_id", "state_id")


@q(
    "range_join_windows",
    """
    WITH iv AS (
      SELECT user_id, event_id AS win_id, ts AS start_ts,
             ts + INTERVAL 600 SECOND AS end_ts
      FROM events WHERE event_type = 'purchase'
    ), cl AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT cl.event_id, cl.user_id, CAST(iv.win_id AS BIGINT) AS win_id
    FROM cl JOIN iv ON cl.user_id = iv.user_id
                   AND cl.ts >= iv.start_ts AND cl.ts < iv.end_ts
    """,
)
def _range_windows(spark, sf):
    # interval-containment join: clicks inside each user's 10-minute
    # post-purchase window. Spark side is the bucketized equi-join +
    # exact residual (no per-key cross product); the oracle is the
    # literal BETWEEN theta-join DuckDB can afford at fixture scale
    from s3_log_parser_spark.operators.temporal import range_join

    ev = _t(spark, sf, "events")
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 600 SECOND")).alias("end_ts"),
    )
    cl = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = range_join(cl, iv, bucket_seconds=600)
    return out.select("event_id", "user_id", "win_id")


# ===========================================================================
# line-level dedup, mixture sampling, deterministic shuffle (round 5)
# ===========================================================================


@q(
    "line_dedup_stats",
    f"""
    WITH d AS (
      SELECT doc_id, replace(text, ' table ', chr(10)) AS text
      FROM documents
    ), ls AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lns FROM d
    ), ex AS (
      SELECT doc_id, unnest(lns) AS line,
             unnest(generate_series(1, len(lns))) AS pos
      FROM ls
    ), freq AS (
      SELECT line, COUNT(DISTINCT doc_id) AS nd
      FROM ex WHERE len(line) >= 1 GROUP BY line
    ), drops AS (SELECT line FROM freq WHERE nd > 1),
    kept AS (
      SELECT e.doc_id, e.line, e.pos FROM ex e
      WHERE len(e.line) < 1
         OR e.line NOT IN (SELECT line FROM drops)
    ), re AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS ctext,
             COUNT(*) AS kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           {_djb2_sql("coalesce(re.ctext, '')")} AS clean_fp,
           CAST(coalesce(re.kept, 0) AS BIGINT) AS n_lines_kept,
           CAST(len(string_split(d.text, chr(10)))
                - coalesce(re.kept, 0) AS BIGINT) AS n_lines_dropped
    FROM d LEFT JOIN re USING (doc_id)
    """,
)
def _line_dedup_stats(spark, sf):
    # RefinedWeb-style boilerplate removal: drop every line occurring in
    # more than one distinct document, keep survivors in original order.
    # The fixture text has no newlines, so a multi-line view is derived
    # identically in both engines (every ' table ' token boundary becomes
    # a line break — plain left-to-right literal replace, no regex).
    # key_mode='raw' is the oracle-parity mode; raw==djb2==xxhash64 is
    # pytest-pinned, and the production xxhash64 family is benched
    # separately (line_dedup_xxhash64).
    from s3_log_parser_spark.functions.hashes import djb2_expr
    from s3_log_parser_spark.operators.lines import line_dedup

    d = _t(spark, sf, "documents").withColumn(
        "text", F.replace("text", F.lit(" table "), F.lit("\n"))
    )
    out = line_dedup(d, key_mode="raw", max_docs=1, min_chars=1)
    return out.select(
        "doc_id",
        djb2_expr("text").alias("clean_fp"),
        "n_lines_kept",
        "n_lines_dropped",
    )


@q(
    "sample_mixture_counts",
    f"""
    WITH t AS (
      SELECT doc_id, source, len({_toks_sql('text')}) AS cnt FROM documents
    ), c AS (
      SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ), b AS (
      SELECT *, CASE source WHEN 'src0' THEN 1200 WHEN 'src1' THEN 900
                            WHEN 'src2' THEN 600 WHEN 'src3' THEN 300
                END AS budget
      FROM c
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(cnt) AS BIGINT) AS kept_tokens
    FROM b WHERE cum - cnt < budget GROUP BY source
    """,
)
def _mixture_counts(spark, sf):
    # target-mixture sampling: 3000 total tokens at shares
    # 400/300/200/100 per-mille over four named sources (budgets
    # 1200/900/600/300); the 16 unnamed sources are dropped — a mixture
    # is a whitelist. Same deterministic prefix-by-id rule as the plain
    # budget sampler, one window per group.
    from s3_log_parser_spark.functions.text import token_count
    from s3_log_parser_spark.operators.sampling import sample_to_mixture

    kept = sample_to_mixture(
        _t(spark, sf, "documents"),
        total_budget_tokens=3000,
        weights={"src0": 400, "src1": 300, "src2": 200, "src3": 100},
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(token_count("text")).cast("long").alias("kept_tokens"),
    )


@q(
    "shuffle_order_prefix",
    f"""
    WITH b AS (
      SELECT doc_id,
             (({_djb2_sql("'r5:' || CAST(doc_id AS VARCHAR)")}
               * 2654435 + 7) % 4294967311) % 2147483647 AS m
      FROM documents
    ), k AS (
      SELECT doc_id, (m * m) % 2147483647 AS sk FROM b
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS BIGINT) AS pos,
           doc_id, sk
    FROM k QUALIFY pos <= 32
    """,
)
def _shuffle_prefix(spark, sf):
    # seeded deterministic global shuffle: both engines reproduce the
    # affine-mixed DJB2 permutation digit-for-digit; the query pins the
    # first 32 rows of the seed-'r5' order. The global row_number window
    # is the verification form — the production write path is
    # deterministic_shuffle(shards=N): range-partitioned, no global
    # merge (shard order IS the permutation).
    from s3_log_parser_spark.operators.sampling import shuffle_key

    keyed = _t(spark, sf, "documents").select(
        "doc_id", shuffle_key("doc_id", seed="r5").alias("sk")
    )
    w = Window.orderBy("sk", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 32)
        .select("pos", "doc_id", "sk")
    )


@q(
    "stratified_sample_ids",
    f"""
    WITH b AS (
      SELECT doc_id, source,
             (({_djb2_sql("'r6:' || CAST(doc_id AS VARCHAR)")}
               * 2654435 + 7) % 4294967311) % 2147483647 AS m
      FROM documents
    ), k AS (
      SELECT doc_id, source, (m * m) % 2147483647 AS sk FROM b
    )
    SELECT source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY sk, doc_id)
                AS BIGINT) AS sample_rank,
           doc_id
    FROM k QUALIFY sample_rank <= 5
    """,
)
def _strat_sample(spark, sf):
    # deterministic stratified sampling: each group's 5 smallest seeded
    # shuffle keys. Catalyst rewrites the rank filter to a
    # WindowGroupLimit (map tasks keep local top-5 per group before the
    # exchange — plan-pinned in tests), so the shuffle never carries
    # the corpus.
    from s3_log_parser_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf, "documents"), n_per_group=5, seed="r6"
    ).select("source", "sample_rank", "doc_id")


@q(
    "chunk_documents_rows",
    f"""
    WITH t AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), n AS (
      SELECT doc_id, tk, len(tk) AS ntk,
             CASE WHEN len(tk) <= 32 THEN 1
                  ELSE (len(tk) - 32 + 23) // 24 + 1 END AS nc
      FROM t WHERE len(tk) > 0
    ), e AS (
      SELECT doc_id, tk, ntk, unnest(generate_series(0, nc - 1)) AS ci
      FROM n
    )
    SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
           array_to_string(tk[ci * 24 + 1 : ci * 24 + 32], ' ')
             AS chunk_text,
           CAST(len(tk[ci * 24 + 1 : ci * 24 + 32]) AS BIGINT) AS n_tokens
    FROM e
    """,
)
def _chunk_docs(spark, sf):
    # RAG/embedding chunking: 32-token windows, 8-token overlap
    # (stride 24). Entirely map-side — tokenize, explode chunk indices,
    # slice; NO shuffle (plan-pinned). The final chunk may be short; a
    # short doc yields exactly one chunk.
    from s3_log_parser_spark.operators.sampling import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"), chunk_tokens=32, overlap_tokens=8
    )


_BM25_QUERIES = [
    (0, "hash join table"),
    (1, "window sort order"),
    (2, "vector scan filter"),
]


def _bm25_ctes() -> str:
    """the BM25 scoring pipeline as a reusable CTE chain ending in
    ``sc(q_id, doc_id, s)`` — shared by the bm25 row and the hybrid
    RRF row."""
    return f"""q AS (
      SELECT * FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)})
        AS t(q_id, q_text)
    ), qt AS (
      SELECT q_id, unnest(list_distinct({_toks_sql('q_text')})) AS term
      FROM q
    ), dt AS (
      SELECT doc_id, unnest({_toks_sql('text')}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM dt
      WHERE term IN (SELECT DISTINCT term FROM qt)
      GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), dl AS (
      SELECT doc_id, len({_toks_sql('text')}) AS dl FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len({_toks_sql('text')})) AS sumdl
      FROM documents
    ), sc AS (
      SELECT qt.q_id, tf.doc_id,
        SUM((CAST(FLOOR(ln((tot.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)
                          + 1.0) * 1000) AS BIGINT)
             * (tf.tf * 220 * tot.sumdl * 100))
            // (tf.tf * 10000 * tot.sumdl
                + 120 * (25 * tot.sumdl + 75 * dl.dl * tot.n_docs))) AS s
      FROM tf JOIN qt USING (term) JOIN dfq USING (term)
              JOIN dl USING (doc_id), tot
      GROUP BY 1, 2
    )"""


@q(
    "bm25_topk_docs",
    f"""
    WITH {_bm25_ctes()}
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY s DESC, doc_id) AS BIGINT) AS rank,
           doc_id, CAST(s AS BIGINT) AS score_x1000
    FROM sc QUALIFY rank <= 5
    """,
)
def _bm25(spark, sf):
    # BM25 lexical retrieval (operators/retrieval.py): exact-rational
    # tf normalization (fractions cleared by 100·sumdl, 64-bit integer
    # div), idf = floor(ln(1 + (N-df+.5)/(df+.5))·1000). Postings are
    # pruned by the broadcast query-term set BEFORE the tf aggregate —
    # the corpus-wide exchange carries only query-term rows.
    from s3_log_parser_spark.operators.retrieval import bm25_topk

    from s3_log_parser_spark.session import literal_frame

    qdf = literal_frame(spark, _BM25_QUERIES, "q_id long, q_text string")
    return bm25_topk(_t(spark, sf, "documents"), qdf, k=5)


@q(
    "hybrid_rrf_topk",
    f"""
    WITH {_bm25_ctes()}, lex AS (
      SELECT q_id, rank, doc_id FROM (
        SELECT q_id, doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY s DESC, doc_id) AS rank
        FROM sc) WHERE rank <= 5
    ), dense AS (
      SELECT q_id, rank, doc_id FROM (
        SELECT qe.vec_id AS q_id, c.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qe.vec_id
                 ORDER BY {_cos_x1m_sql('qe.embedding', 'c.embedding')} DESC,
                          c.vec_id ASC) AS rank
        FROM embeddings qe JOIN embeddings c ON qe.vec_id != c.vec_id
        WHERE qe.vec_id < 3) WHERE rank <= 5
    ), contrib AS (
      SELECT q_id, doc_id, 1000000 // (60 + rank) AS c FROM lex
      UNION ALL
      SELECT q_id, doc_id, 1000000 // (60 + rank) FROM dense
    ), fused AS (
      SELECT q_id, doc_id, SUM(c) AS rrf FROM contrib GROUP BY 1, 2
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
           doc_id, CAST(rrf AS BIGINT) AS rrf_x1m
    FROM fused QUALIFY rank <= 5
    """,
)
def _hybrid_rrf(spark, sf):
    # hybrid retrieval: BM25 (text queries) + dense cosine (the same
    # query ids as embedding rows) fused by reciprocal rank — integer
    # arithmetic end to end, so fusion is cross-engine exact no matter
    # how incomparable the two retrievers' raw scores are.
    from s3_log_parser_spark.operators.retrieval import bm25_topk, rrf_fuse
    from s3_log_parser_spark.operators.similarity import cosine_topk

    from s3_log_parser_spark.session import literal_frame

    qdf = literal_frame(spark, _BM25_QUERIES, "q_id long, q_text string")
    lex = bm25_topk(_t(spark, sf, "documents"), qdf, k=5)
    emb = _t(spark, sf, "embeddings")
    dense = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).select(
        "q_id", "rank", F.col("c_id").alias("doc_id")
    )
    return rrf_fuse([lex, dense], k=5)


@q(
    "pack_examples_stats",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             list_transform({_toks_sql('text')}, t -> {_djb2_sql('t')}) AS ids
      FROM documents
    ), s AS (
      SELECT doc_id, source, ids, CAST(len(ids) AS BIGINT) AS n,
             SUM(len(ids)) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - len(ids) AS strt
      FROM t WHERE len(ids) > 0
    ), e AS (
      SELECT source, ids, strt, n,
             unnest(generate_series(CAST(FLOOR(strt / 64.0) AS BIGINT),
                                    CAST(FLOOR((strt + n - 1) / 64.0)
                                         AS BIGINT))) AS bin
      FROM s
    ), p AS (
      SELECT source, bin, strt,
             ids[(GREATEST(bin * 64, strt) - strt + 1)
                 :(LEAST(strt + n, (bin + 1) * 64) - strt)] AS piece
      FROM e
    ), g AS (
      SELECT source, bin AS pack_bin,
             flatten(list(piece ORDER BY strt)) AS flat,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY source, bin
    )
    SELECT source, pack_bin, CAST(len(flat) AS BIGINT) AS n_tokens, n_docs,
           list_reduce(list_prepend(5381::BIGINT, flat),
                       (a, b) -> (a * 33 + b) % 4294967296) AS ids_fp
    FROM g
    """,
)
def _pack_examples_stats(spark, sf):
    # materialized packed examples: the per-source token stream cut
    # into exact 64-token windows, docs SPLIT across boundaries (unlike
    # pack_sequences' start-bin estimate). ids_fp pins the full id
    # sequence of every window (DJB2 fold), so content and order are
    # both oracle-checked. Default ids are the DJB2-of-token parity
    # family; real-BPE ids are the production mode (benched).
    from s3_log_parser_spark.operators.sampling import pack_examples

    out = pack_examples(_t(spark, sf, "documents"), ctx_tokens=64)
    fp = F.aggregate(
        "input_ids",
        F.lit(5381).cast("long"),
        lambda acc, x: (acc * 33 + x) % F.lit(4294967296),
    )
    return out.select(
        "source", "pack_bin", "n_tokens", "n_docs", fp.alias("ids_fp")
    )


@q(
    "text_normalize_stats",
    f"""
    WITH d AS (
      SELECT doc_id,
             '  A' || chr(769) || 'B' || chr(9) || chr(1) || 'C  ' || text
               AS messy
      FROM documents
    ), n AS (
      SELECT doc_id, messy,
             nfc_normalize(
               lower(
                 regexp_replace(
                   trim(regexp_replace(messy,
                        '[ \\t\\n\\r\\x0B\\x0C]+', ' ', 'g')),
                   '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g')))
               AS norm
      FROM d
    )
    SELECT doc_id,
           CAST(length(messy) AS BIGINT) AS n_chars_messy,
           CAST(length(norm) AS BIGINT) AS n_chars_norm,
           {_djb2_sql('norm')} AS norm_fp
    FROM n
    """,
)
def _text_normalize_stats(spark, sf):
    # pre-hash text cleanup + Unicode NFC, cross-engine: each doc is
    # prefixed with a deterministic mess ('  A' + combining acute +
    # 'B' + TAB + \x01 control + 'C  ') built identically in both
    # engines. The pipeline is normalize (collapse ws, strip ctrl,
    # lower) then NFC — 'a'+U+0301 composes to 'á', so n_chars_norm
    # and the per-char DJB2 fold (Spark ascii == DuckDB ord on the
    # resulting codepoints) pin the full normalized content.
    from s3_log_parser_spark.functions.hashes import djb2_expr
    from s3_log_parser_spark.functions.text import nfc_text, normalize_text

    d = _t(spark, sf, "documents").withColumn(
        "messy",
        F.concat(
            F.lit("  A"),
            F.lit("́"),  # combining acute: composes with 'A' under NFC
            F.lit("B"),
            F.lit("\t"),
            F.lit("\x01"),
            F.lit("C  "),
            F.col("text"),
        ),
    )
    norm = nfc_text(normalize_text("messy"))
    return d.select(
        "doc_id",
        F.length("messy").cast("long").alias("n_chars_messy"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        djb2_expr(norm).alias("norm_fp"),
    )


# ===========================================================================
# mergeable sketches + behavioral analytics (operators/sketch.py,
# operators/behavior.py)
# ===========================================================================

# the HLL estimator numerator, inlined identically in both engines
from s3_log_parser_spark.operators.sketch import hll_constant as _hll_c  # noqa: E402

_HLL_NUM = repr(_hll_c(9))


@q(
    "hll_distinct_rollup",
    f"""
    WITH base AS (
      SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
             CAST(user_id AS VARCHAR) || ':' || event_type || ':'
               || CAST(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS VARCHAR)
               AS k
      FROM events
    ),
    mixed AS (
      SELECT d, k,
             (({_djb2_sql('k')} * 2654435 + 7) % 4294967311)
               % 2147483647 AS m
      FROM base
    ),
    hashed AS (SELECT d, k, (m * m) % 2147483647 AS h FROM mixed),
    daily AS (
      SELECT d, h % 512 AS bucket,
             MAX(CASE WHEN (h // 512) = 0 THEN 23
                      ELSE 23 - length(bin(h // 512)) END) AS r
      FROM hashed GROUP BY 1, 2
    ),
    merged AS (SELECT bucket, MAX(r) AS r FROM daily GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_registers,
             CAST(SUM(1::BIGINT << (23 - r))
                  + (512 - COUNT(*)) * 8388608 AS BIGINT) AS z_int
      FROM merged
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days
      FROM hashed
    )
    SELECT n_registers, z_int,
           CAST(FLOOR(({_HLL_NUM} / CAST(z_int AS DOUBLE)) * 1000)
                AS BIGINT) AS est_x1000,
           exact_distinct, n_days
    FROM agg, ex
    """,
)
def _hll_rollup(spark, sf):
    # the 100 TB rollup idiom: scan raw once per day into a 512-row
    # register table (the persisted artifact), answer any window by
    # max-merging sketches — never re-reading raw. The oracle rebuilds
    # every register bit-for-bit (DJB2 parity family); the estimate is
    # one identical IEEE division (raw mode: the ln of the linear-
    # counting branch is libm-dependent, and at 8k distinct >> 2.5m
    # raw is the estimator of record anyway). exact_distinct rides
    # along so the artifact itself shows the ~4.6%-SE accuracy.
    from s3_log_parser_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_rank_cols,
    )

    ev = _t(spark, sf, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("long")
    key = F.concat(
        F.col("user_id").cast("string"), F.lit(":"),
        F.col("event_type"), F.lit(":"), day.cast("string"),
    )
    keyed = ev.select(key.alias("k"), day.alias("d"))
    bucket, rank = hll_rank_cols(F.col("k"))
    daily = (
        keyed.select("d", bucket.alias("bucket"), rank.alias("r"))
        .groupBy("d", "bucket")
        .agg(F.max("r").alias("r"))
    )
    merged = hll_merge(daily.select("bucket", "r"))
    est = hll_estimate(merged, correction=False)
    exact = keyed.agg(
        F.count_distinct("k").cast("long").alias("exact_distinct"),
        F.count_distinct("d").cast("long").alias("n_days"),
    )
    return est.crossJoin(exact)


@q(
    "cms_heavy_hitters",
    f"""
    WITH ev AS (SELECT user_id, CAST(user_id AS VARCHAR) AS k FROM events),
    grid AS (
      SELECT i,
             (({_djb2_sql("CAST(i AS VARCHAR) || ':' || k")} * 2654435 + 7)
              % 4294967311) % 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev CROSS JOIN range(4) t(i) GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, k, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM ev GROUP BY 1, 2
    ),
    top AS (SELECT * FROM exact ORDER BY exact_n DESC, user_id LIMIT 10),
    probes AS (
      SELECT t.user_id, t.exact_n, i.i AS i,
             (({_djb2_sql("CAST(i.i AS VARCHAR) || ':' || t.k")} * 2654435
               + 7) % 4294967311) % 64 AS bucket
      FROM top t CROSS JOIN range(4) i(i)
    )
    SELECT p.user_id, p.exact_n,
           CAST(MIN(COALESCE(g.n, 0)) AS BIGINT) AS cms_n
    FROM probes p LEFT JOIN grid g USING (i, bucket)
    GROUP BY 1, 2
    """,
)
def _cms_hh(spark, sf):
    # count-min frequency grid (depth 4 × width 64 — width squeezed
    # far below the 150-key cardinality so the never-undercount
    # property is exercised under real collisions, not vacuously).
    # Build is one map-side-combined count capped at depth·width rows
    # regardless of input size; estimates = min over 4 broadcast
    # lookups. The top-10 keys by exact count carry both numbers so
    # the artifact pins cms_n >= exact_n row by row.
    from s3_log_parser_spark.operators.sketch import cms_lookup, cms_sketch

    ev = _t(spark, sf, "events")
    sk = cms_sketch(ev, F.col("user_id").cast("string"), depth=4, width=64)
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )
    looked = cms_lookup(
        sk,
        top.select(F.col("user_id").cast("string").alias("k")),
        "k",
        depth=4,
        width=64,
    )
    return (
        top.withColumn("k", F.col("user_id").cast("string"))
        .join(F.broadcast(looked), "k")
        .select("user_id", "exact_n", "cms_n")
    )


@q(
    "funnel_conversion_steps",
    """
    WITH f AS (
      SELECT user_id,
             CASE event_type WHEN 'signup' THEN '1' WHEN 'view' THEN '2'
                  WHEN 'click' THEN '3' WHEN 'purchase' THEN '4' END AS c,
             ts, event_id
      FROM events
      WHERE event_type IN ('signup', 'view', 'click', 'purchase')
        AND ts < TIMESTAMP '2024-01-03'
    ),
    per AS (SELECT user_id, list(c ORDER BY ts, event_id) AS evs
            FROM f GROUP BY 1),
    fold AS (
      SELECT CAST(list_reduce(list_prepend('0', evs),
        (acc, s) -> CASE WHEN acc = '0' AND s = '1' THEN '1'
                         WHEN acc = '1' AND s = '2' THEN '2'
                         WHEN acc = '2' AND s = '3' THEN '3'
                         WHEN acc = '3' AND s = '4' THEN '4'
                         ELSE acc END) AS INT) AS furthest_step
      FROM per
    ),
    ex AS (SELECT furthest_step, CAST(COUNT(*) AS BIGINT) AS n_users
           FROM fold GROUP BY 1)
    SELECT furthest_step, n_users,
           CAST(SUM(n_users) OVER (ORDER BY furthest_step DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_reached
    FROM ex
    """,
)
def _funnel(spark, sf):
    # ordered-subsequence funnel over a 2-day activation window (the
    # full fixture converts everyone — 67 events/user finds any
    # 4-subsequence). Exact O(events) left fold per user, no k-1
    # self-joins, no regex backtracking; DuckDB reproduces the same
    # fold with list_reduce over a digit-coded step alphabet (its
    # reduce accumulator must share the element type).
    from s3_log_parser_spark.operators.behavior import funnel_conversion

    ev = _t(spark, sf, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    return funnel_conversion(
        ev, ["signup", "view", "click", "purchase"]
    )


@q(
    "retention_cohorts",
    """
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d
      FROM events
    ),
    c AS (SELECT d, MIN(d) OVER (PARTITION BY user_id) AS cohort
          FROM active)
    SELECT cohort AS cohort_day, d - cohort AS offset_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM c GROUP BY 1, 2
    """,
)
def _retention(spark, sf):
    # classic cohort retention: first-active day (A2 integer bucket)
    # × day offset → distinct active users. The per-user min reuses
    # the distinct's hash partitioning (one exchange, window shares it)
    from s3_log_parser_spark.operators.behavior import retention_cohorts

    return retention_cohorts(_t(spark, sf, "events"))


@q(
    "anomaly_windowed_counts",
    """
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_bucket
      FROM events
    ),
    w AS (
      SELECT day_bucket, v,
             COUNT(v) OVER win AS n,
             CAST(SUM(v) OVER win AS BIGINT) AS s,
             CAST(SUM(v * v) OVER win AS BIGINT) AS q
      FROM v WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
    ),
    f AS (
      SELECT day_bucket,
             CASE WHEN n < 4 OR v IS NULL THEN NULL
                  WHEN (n * q - s * s) = 0 THEN (n * v - s) != 0
                  ELSE (n * v - s) * (n * v - s) > 9 * (n * q - s * s)
             END AS flag
      FROM w
    )
    SELECT day_bucket, CAST(COUNT(flag) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies
    FROM f GROUP BY 1
    """,
)
def _anomaly(spark, sf):
    # trailing-window z-score flags, entirely in BIGINT fixed-point:
    # z² > 3² ⇔ (n·x−S)² > 9·(n·Q−S²) — no float mean/variance, so
    # the DuckDB window reproduces every flag exactly
    from s3_log_parser_spark.operators.behavior import anomaly_daily_counts

    return anomaly_daily_counts(_t(spark, sf, "events"))


@q(
    "pivot_daily_events",
    """
    SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_bucket,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
             AS click,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
             AS error,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS purchase,
           CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)
             AS signup,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
             AS view
    FROM events GROUP BY 1
    """,
)
def _pivot_daily(spark, sf):
    # wide daily breakdown via pivot with an EXPLICIT value list — the
    # implicit form first runs a distinct scan over the pivot column
    # to discover output columns (a full extra pass at 100 TB) and
    # inherits an unbounded schema from dirty data. Empty cells
    # coalesce to 0 (conditional-count semantics, like the oracle)
    from s3_log_parser_spark.operators.aggregate import pivot_counts

    ev = _t(spark, sf, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("long")
    return pivot_counts(
        ev,
        day,
        "event_type",
        ["click", "error", "purchase", "signup", "view"],
        row_key_name="day_bucket",
    )


@q(
    "cube_margin_counts",
    """
    WITH b AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7 AS weekday,
             CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v
      FROM events
    )
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(weekday, -1) AS weekday,
           CAST(GROUPING(event_type, weekday) AS BIGINT) AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_measure
    FROM b GROUP BY CUBE (event_type, weekday)
    """,
)
def _cube_margins(spark, sf):
    # all four grouping-set margins (type×weekday, type, weekday,
    # grand total) in ONE scan — Spark plans cube() as a single
    # Expand + aggregate; four separate groupBys would scan raw four
    # times. grouping_id disambiguates margin NULLs from data NULLs;
    # the measure is ×1000 fixed-point so the sum is BIGINT-exact
    from s3_log_parser_spark.operators.aggregate import cube_counts

    ev = _t(spark, sf, "events")
    day = (F.unix_timestamp("ts") / 86400).cast("long")
    b = ev.select(
        "event_type",
        F.pmod(day, F.lit(7)).alias("weekday"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("_v"),
    )
    cube = cube_counts(
        b, ["event_type", "weekday"], F.col("_v"), measure_name="sum_measure"
    )
    # margin NULLs → sentinels: the cross-engine compare sorts row
    # tuples, and None is unorderable; grouping_id still marks margins
    return cube.select(
        F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
        F.coalesce("weekday", F.lit(-1)).alias("weekday"),
        "grouping_id",
        "n",
        "sum_measure",
    )


@q(
    "value_histogram_bins",
    """
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v
      FROM events
    )
    SELECT event_type,
           CAST(CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS INT)
             AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM v GROUP BY 1, 2
    """,
)
def _value_hist(spark, sf):
    # log2-binned value distribution per type: the mergeable
    # distribution sketch (≤ ~31 bins cover any BIGINT range, and
    # per-day histograms ADD, so they roll up like the HLL/CMS
    # sketches). Bit length = exact log2 bucket — float log2's floor
    # misrounds at power-of-two boundaries
    from s3_log_parser_spark.operators.aggregate import value_histogram

    return value_histogram(
        _t(spark, sf, "events"), "value", keys=("event_type",)
    )


@q(
    "interarrival_gap_bins",
    """
    WITH g AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    )
    SELECT CAST(CASE WHEN gap <= 0 THEN 0 ELSE length(bin(gap)) END AS INT)
             AS gap_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(gap) AS BIGINT) AS sum_gap_us
    FROM g WHERE gap IS NOT NULL GROUP BY 1
    """,
)
def _interarrival(spark, sf):
    # per-user inter-event gap distribution in µs (the think-time
    # profile that sizes sessionization gaps): one lag window, then a
    # map-side-combined ≤ ~46-bin aggregate; µs integers end-to-end
    # (unix_micros ↔ epoch_us) so gap boundaries agree exactly
    from s3_log_parser_spark.operators.behavior import interarrival_bins

    return interarrival_bins(_t(spark, sf, "events"))


@q(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS revenue_x10000,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def _tpch_q6(spark, sf):
    # TPC-H Q6: the pushdown showcase — every predicate reaches the
    # parquet scan (PushedFilters on l_shipdate/l_quantity) and the
    # plan is scan → filter → one partial+final agg, no exchange of
    # anything but a 1-row partial. Revenue in integer 1e-4 units
    # (cents × discount-percent) — float sums are order-sensitive
    # across engines, integer sums aren't
    li = _t(spark, sf, "lineitem")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & disc.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(price * disc).cast("long").alias("revenue_x10000"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


@q(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_x10000,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_x10000 DESC, l_orderkey
    LIMIT 10
    """,
)
def _tpch_q3(spark, sf):
    # TPC-H Q3: segment-filtered customers BROADCAST into the
    # date-filtered orders (the one dim-shaped side), then ONE shuffle
    # join of orders×lineitem on the order key; top-10 via
    # TakeOrderedAndProject (per-partition heaps + driver merge of 10
    # rows — never a global sort). Revenue integer-scaled as in q6;
    # the date is formatted to a string (cross-engine timestamp
    # hashing is representation-sensitive)
    cut = F.lit("1998-06-01").cast("timestamp")
    c = _t(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > cut).select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("_rev"),
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        li, li.l_orderkey == o.o_orderkey
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum("_rev").cast("long").alias("revenue_x10000"))
        .select(
            "l_orderkey",
            "revenue_x10000",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.col("revenue_x10000").desc(), "l_orderkey")
        .limit(10)
    )


@q(
    "histogram_quantiles",
    """
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v
      FROM events
    ), h AS (
      SELECT event_type,
             CAST(CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS INT)
               AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bin, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM h
    ), e AS (
      SELECT c.*, p.p
      FROM c CROSS JOIN (VALUES (500), (990), (999)) AS p(p)
    ), qb AS (
      SELECT event_type, CAST(p AS INT) AS p,
             CAST(MIN(bin) AS INT) AS bin
      FROM e
      WHERE cum >= CEIL(total * p / 1000.0)
      GROUP BY 1, 2
    )
    SELECT event_type, p, bin,
           CAST(CASE WHEN bin <= 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << (bin - 1)) END AS BIGINT)
             AS lo,
           CAST(CASE WHEN bin <= 0 THEN 0
                     ELSE (CAST(1 AS BIGINT) << bin) - 1 END AS BIGINT)
             AS hi
    FROM qb
    """,
)
def _hist_quantiles(spark, sf):
    # sketch-level percentiles: p50/p99/p99.9 bounds per event type
    # straight from the mergeable log2 histogram — the percentile
    # analog of the HLL/CMS rollup (any-window quantiles without
    # rescanning raw); exact at bin granularity, rank arithmetic
    # structurally shared with percentiles_disc and this oracle
    from s3_log_parser_spark.operators.aggregate import (
        histogram_quantiles,
        value_histogram,
    )

    h = value_histogram(_t(spark, sf, "events"), "value", keys=("event_type",))
    return histogram_quantiles(h, ps=(500, 990, 999), keys=("event_type",))


_TURNS_FROM_EVENTS_SQL = """
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) - 1 AS BIGINT)
               AS turn_idx,
             CASE WHEN event_type = 'view' THEN 'user'
                  WHEN event_type = 'click' THEN 'assistant'
                  ELSE 'system' END AS role,
             CASE WHEN event_type IN ('view', 'click') THEN NULL
                  ELSE event_type END AS tool,
             event_type || ' ' || props AS text,
             ts
      FROM events
"""


def _turns_from_events(spark, sf):
    # deterministic turns view shared by the conversation queries and
    # their oracles: user → conversation, (ts, event_id) order →
    # turn_idx, event_type → role + optional tool
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        F.when(F.col("event_type") == "view", "user")
        .when(F.col("event_type") == "click", "assistant")
        .otherwise("system")
        .alias("role"),
        F.when(
            F.col("event_type").isin("view", "click"), F.lit(None)
        )
        .otherwise(F.col("event_type"))
        .alias("tool"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("props")).alias(
            "text"
        ),
        "ts",
    )


@q(
    "conv_stats",
    f"""
    WITH t AS ({_TURNS_FROM_EVENTS_SQL})
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_user,
           CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_assistant,
           CAST(SUM(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_system,
           CAST(COUNT(tool) AS BIGINT) AS n_tool_calls,
           CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_tools,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                AS BIGINT) AS span_sec,
           CAST(MAX(turn_idx) AS BIGINT) AS max_turn_idx,
           CAST(MIN(turn_idx) = 0 AND MAX(turn_idx) = COUNT(*) - 1
                AND COUNT(DISTINCT turn_idx) = COUNT(*) AS INTEGER)
             AS turn_idx_contiguous
    FROM t GROUP BY conv_id
    """,
)
def _conv_stats(spark, sf):
    # per-conversation feature table — the transcript payload's native
    # grain: ONE map-side-combined aggregate on conv_id (no windows,
    # no joins; bucketed-by-conv_id storage makes it exchange-free).
    # turn_idx_contiguous folds the north-star stable-ordering
    # invariant into a queryable column
    from s3_log_parser_spark.operators.conversations import conv_stats

    return conv_stats(_turns_from_events(spark, sf))


@q(
    "role_transitions",
    f"""
    WITH t AS ({_TURNS_FROM_EVENTS_SQL}), b AS (
      SELECT LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS from_role,
             role AS to_role
      FROM t
    )
    SELECT from_role, to_role, CAST(COUNT(*) AS BIGINT) AS n
    FROM b WHERE from_role IS NOT NULL
    GROUP BY 1, 2
    """,
)
def _role_transitions(spark, sf):
    # conversation-flow bigrams: one lag window on the conv key (the
    # same partitioning the ST1 window uses) → bounded ≤ |roles|² count
    from s3_log_parser_spark.operators.conversations import (
        role_transitions,
    )

    return role_transitions(_turns_from_events(spark, sf))


@q(
    "tool_cooccurrence",
    f"""
    WITH t AS ({_TURNS_FROM_EVENTS_SQL}), ct AS (
      SELECT DISTINCT conv_id, tool FROM t WHERE tool IS NOT NULL
    )
    SELECT a.tool AS tool_a, b.tool AS tool_b,
           CAST(COUNT(*) AS BIGINT) AS n_convs
    FROM ct a JOIN ct b ON a.conv_id = b.conv_id AND a.tool < b.tool
    GROUP BY 1, 2
    """,
)
def _tool_cooccurrence(spark, sf):
    # which tools travel together: pair counts over the DISTINCT
    # (conv, tool) table (aggregate-sized — never raw turns), one
    # conv-keyed equi-self-join, ≤ |tools|² output. Registered past
    # the driver's 50-row window (builder-oracle verified; rotates in
    # next round per the documented policy)
    from s3_log_parser_spark.operators.conversations import (
        tool_cooccurrence,
    )

    return tool_cooccurrence(_turns_from_events(spark, sf))


@q(
    "audit_report",
    """
    WITH b AS (
      SELECT event_id, user_id, event_type, value,
             CASE WHEN event_id % 97 = 0 THEN NULL ELSE props END AS props
      FROM events
    ), a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS f_nn,
             CAST(SUM(CASE WHEN value IS NOT NULL
                           AND NOT (value BETWEEN 0 AND 400)
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_rng,
             CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type
                           NOT IN ('click','view','signup','purchase')
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_acc,
             CAST(SUM(CASE WHEN props IS NOT NULL AND NOT
                           regexp_matches(props, '^\\{.*\\}$')
                           THEN 1 ELSE 0 END) AS BIGINT) AS f_re,
             CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT)
               AS f_uid,
             CAST(COUNT(user_id) - COUNT(DISTINCT user_id) AS BIGINT)
               AS f_uu
      FROM b
    )
    SELECT "check", failed, total,
           CAST(failed <= budget AS INTEGER) AS passed
    FROM (
      SELECT 'not_null(props)' AS "check", f_nn AS failed, total,
             CAST(0 AS BIGINT) AS budget FROM a
      UNION ALL SELECT 'in_range(value,0,400)', f_rng, total, 0 FROM a
      UNION ALL SELECT 'accepted_values(event_type)', f_acc, total, 0 FROM a
      UNION ALL SELECT 'matches(props)', f_re, total, 0 FROM a
      UNION ALL SELECT 'unique(event_id)', f_uid, total, 0 FROM a
      UNION ALL SELECT 'unique(user_id)', f_uu, total, 0 FROM a
      UNION ALL SELECT 'null_ratio(props)', f_nn, total,
                CAST(floor(total * 15 / 1000) AS BIGINT) FROM a
    )
    ORDER BY 1
    """,
)
def _audit_report(spark, sf):
    # Deequ-shaped batch gate: every declared expectation compiles to
    # an aggregate expression over ONE scan (operators/audit.py) — a
    # 7-check audit of a 100 TB batch costs one map-side-combined
    # aggregate, not 7 jobs. A deterministic slice of props is nulled
    # to exercise failure counting; null_ratio carries a 15-per-mille
    # budget (passes at ~1.03% nulls) while not_null's zero budget
    # fails — same failure count, different contracts. unique() runs
    # inside the same aggregate via count_distinct; user_id is the
    # deliberately-failing uniqueness check (150 users × ~67 events).
    from s3_log_parser_spark.operators.audit import (
        Check,
        accepted_values,
        audit,
        in_range,
        matches,
        not_null,
        unique,
    )

    ev = _t(spark, sf, "events").withColumn(
        "props",
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
            F.col("props")
        ),
    )
    rep = audit(
        ev,
        [
            not_null("props"),
            in_range("value", 0, 400),
            accepted_values(
                "event_type", ["click", "view", "signup", "purchase"]
            ),
            matches("props", r"^\{.*\}$"),
            unique("event_id"),
            unique("user_id"),
            Check(
                name="null_ratio(props)",
                fail_expr=F.col("props").isNull(),
                max_failed_ratio_x1000=15,
            ),
        ],
    )
    return rep.withColumn("passed", F.col("passed").cast("int"))


# ---------------------------------------------------------------------------
# r6 second wave: Gopher rule filter, hashed-ngram importance, conv dedup
# ---------------------------------------------------------------------------

from s3_log_parser_spark.functions.text import (  # noqa: E402
    GOPHER_STOPWORDS as _GOPHER_SW,
)

_GOPHER_BANK_SQL = "[" + ", ".join(f"'{w}'" for w in _GOPHER_SW) + "]"

# The synthetic corpus has no natural stopwords / bullets / symbol runs,
# so every rule except word_count would be constant — like the PII row,
# the oracle runs over a DETERMINISTIC derived view both engines build
# identically: planted stopword tails (%3), '#' runs (%7), bullet-line
# blocks (%11), ellipsis-ended lines (%13) make each flag vary.
_G3 = " the result works and that should have been clear with context"
_G7 = " " + "#" * 40
_G11 = "\n- item" * 10
_G13 = "\nto be continued..." * 3
_GOPHER_VIEW_SQL = f"""
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0 THEN '{_G3}' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN '{_G7}' ELSE '' END
        || CASE WHEN doc_id % 11 = 0 THEN '{_G11}' ELSE '' END
        || CASE WHEN doc_id % 13 = 0 THEN '{_G13}' ELSE '' END AS text
      FROM documents
"""


@q(
    "text_gopher_flags",
    f"""
    WITH gdocs AS ({_GOPHER_VIEW_SQL}
    ), toks AS (
      SELECT doc_id, text, {_toks_sql('text')} AS tk FROM gdocs
    ), m AS (
      SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n,
        CAST(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)
             AS BIGINT) AS total_len,
        CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
             AS BIGINT) AS n_alpha,
        CAST(len(regexp_extract_all(coalesce(text, ''), '#')) AS BIGINT)
          AS n_hash,
        CAST(len(regexp_extract_all(coalesce(text, ''), '\\.\\.\\.|…'))
             AS BIGINT) AS n_ell,
        greatest(CAST(len(list_filter(string_split(coalesce(text, ''),
                 chr(10)), l -> trim(l) != '')) AS BIGINT), 1) AS n_lines,
        CAST(len(list_filter(list_filter(string_split(coalesce(text, ''),
                 chr(10)), l -> trim(l) != ''),
                 l -> list_contains(['-', '*', '•'], left(ltrim(l), 1))))
             AS BIGINT) AS n_bullet,
        CAST(len(list_filter(list_filter(string_split(coalesce(text, ''),
                 chr(10)), l -> trim(l) != ''),
                 l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
             AS BIGINT) AS n_ell_end,
        CAST(len(list_filter({_GOPHER_BANK_SQL},
                 w -> list_contains(list_transform(tk, t -> lower(t)), w)))
             AS BIGINT) AS n_stop
      FROM toks
    ), fl AS (
      SELECT doc_id, n,
        CAST(n >= 50 AND n <= 100000 AS INTEGER) AS word_count_ok,
        CAST(total_len >= 3 * n AND total_len <= 10 * n AND n > 0
             AS INTEGER) AS mean_word_len_ok,
        CAST(n_hash * 10 <= n AND n_ell * 10 <= n AS INTEGER)
          AS symbol_ratio_ok,
        CAST(n_bullet * 10 <= n_lines * 9 AS INTEGER) AS bullet_ok,
        CAST(n_ell_end * 10 <= n_lines * 3 AS INTEGER) AS ellipsis_ok,
        CAST(n_alpha * 10 >= n * 8 AS INTEGER) AS alpha_ratio_ok,
        CAST(n_stop >= 2 AS INTEGER) AS stopword_ok
      FROM m
    )
    SELECT doc_id, n AS n_words, word_count_ok, mean_word_len_ok,
           symbol_ratio_ok, bullet_ok, ellipsis_ok, alpha_ratio_ok,
           stopword_ok,
           CAST(word_count_ok = 1 AND mean_word_len_ok = 1
                AND symbol_ratio_ok = 1 AND bullet_ok = 1
                AND ellipsis_ok = 1 AND alpha_ratio_ok = 1
                AND stopword_ok = 1 AS INTEGER) AS gopher_pass
    FROM fl
    """,
)
def _gopher(spark, sf):
    # the published Gopher rule suite (Rae et al. 2021 A1.1) as exact-
    # integer per-doc flags — cross-multiplied ratios, no division, so
    # both engines agree bit-for-bit (over the planted derived view)
    from s3_log_parser_spark.functions.text import gopher_flags

    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        *[
            F.when(d % m == 0, F.lit(s)).otherwise(F.lit(""))
            for m, s in ((3, _G3), (7, _G7), (11, _G11), (13, _G13))
        ],
    )
    gdocs = _t(spark, sf, "documents").select("doc_id", planted.alias("text"))
    fl = gopher_flags("text")
    cols = [F.col("doc_id"), fl["n_words"].alias("n_words")] + [
        fl[k].cast("int").alias(k)
        for k in (
            "word_count_ok",
            "mean_word_len_ok",
            "symbol_ratio_ok",
            "bullet_ok",
            "ellipsis_ok",
            "alpha_ratio_ok",
            "stopword_ok",
            "gopher_pass",
        )
    ]
    return gdocs.select(*cols)


# hashed 2-gram feature CTE (the n=2 analog of _SHINGLE_CTE) + the
# bucketed presence sets both importance oracles share. Target slice =
# doc_id % 7 = 0 — a deterministic in-corpus "domain" stand-in; the
# library takes any target frame.
_IMP_CTE = f"""
    WITH toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), sh AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN ntk >= 2
               THEN list_transform(generate_series(1, ntk - 1),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+1]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    ), e AS (
      SELECT doc_id, unnest(list_distinct(list_transform(hs, h -> h % 512)))
               AS bucket
      FROM sh
    ), r AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_n FROM e GROUP BY bucket
    ), tg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS target_n
      FROM e WHERE doc_id % 7 = 0 GROUP BY bucket
    ), wt AS (
      SELECT r.bucket, r.raw_n, coalesce(tg.target_n, 0) AS target_n,
             CAST(FLOOR((coalesce(tg.target_n, 0) + 1) * 1000.0
                        / (r.raw_n + 1)) AS BIGINT) AS weight_x1000
      FROM r LEFT JOIN tg USING (bucket)
    )
"""


@q(
    "importance_bucket_weights",
    f"""
    {_IMP_CTE}
    SELECT bucket, raw_n, target_n, weight_x1000 FROM wt
    """,
)
def _imp_weights(spark, sf):
    # DSIR-style hashed-ngram importance weight table: both corpus
    # distributions collapse to ≤512 rows (aggregate-sized no matter
    # the corpus), weight = add-one-smoothed integer frequency ratio
    from s3_log_parser_spark.operators.importance import bucket_weights

    docs = _t(spark, sf, "documents")
    # weights alone reads the corpus twice (raw + target streams); the
    # staged-bucket-frame form (see importance_doc_scores) measured
    # NEUTRAL here — the checkpoint materialization costs what the one
    # saved kernel pass buys — so the weight-only query stays lazy
    return bucket_weights(
        docs, docs.filter(F.col("doc_id") % 7 == 0), n=2, buckets=512
    )


@q(
    "importance_doc_scores",
    f"""
    {_IMP_CTE}
    SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(wt.weight_x1000) AS BIGINT) AS imp_x1000
    FROM e JOIN wt USING (bucket) GROUP BY e.doc_id
    """,
)
def _imp_scores(spark, sf):
    # per-doc importance: explode distinct buckets → broadcast join the
    # ≤512-row weight table → re-aggregate on doc_id. The corpus never
    # shuffles on anything but its own id; target-like docs score high
    from s3_log_parser_spark.operators.importance import (
        bucket_frame,
        bucket_weights,
        importance_scores,
    )

    docs = _t(spark, sf, "documents")
    # ONE staged kernel pass feeds the raw stream, the target slice AND
    # the scoring stream (three kernel evaluations before r7)
    bf = bucket_frame(docs, "text", 2, 512, "djb2", keep=("doc_id",))
    bf = bf.localCheckpoint(eager=True)
    w = bucket_weights(
        docs, docs.filter(F.col("doc_id") % 7 == 0), n=2, buckets=512,
        raw_buckets=bf,
        target_buckets=bf.filter(F.col("doc_id") % 7 == 0),
    )
    return importance_scores(docs, w, n=2, buckets=512, buckets_df=bf)


@q(
    "conv_dedup_rows",
    f"""
    WITH t AS ({_TURNS_FROM_EVENTS_SQL}), u AS (
      SELECT conv_id, turn_idx, role, tool FROM t
      UNION ALL
      SELECT conv_id || '~dup', turn_idx, role, tool FROM t
      WHERE CAST(conv_id AS BIGINT) % 5 = 0
    ), s AS (
      SELECT conv_id,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             string_agg(
               CAST(length(coalesce(role, '')) AS VARCHAR) || ':'
                 || coalesce(role, '')
                 || CAST(length(coalesce(tool, '')) AS VARCHAR) || ':'
                 || coalesce(tool, ''),
               '|' ORDER BY turn_idx) AS sig
      FROM u GROUP BY conv_id
    )
    SELECT conv_id, n_turns, sig,
           CAST(COUNT(*) OVER (PARTITION BY sig) AS BIGINT) AS group_size,
           CAST(conv_id = MIN(conv_id) OVER (PARTITION BY sig) AS INTEGER)
             AS keep
    FROM s
    """,
)
def _conv_dedup_rows(spark, sf):
    # structural conversation dedup: same-signature convs (identical
    # length-prefixed role, tool turn sequences — templated/replayed conversations)
    # collapse to one canonical winner. The natural corpus has no
    # structural twins at sf0.01, so the oracled view PLANTS them
    # deterministically (every 5th conv re-keyed '~dup' — both engines
    # build the identical view); the full signature string is part of
    # the compared row, so the turn-order restoration itself is pinned
    from s3_log_parser_spark.operators.conversations import conv_dedup

    t = _turns_from_events(spark, sf)
    planted = t.filter(
        F.col("conv_id").cast("long") % 5 == 0
    ).withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("~dup")))
    u = t.select("conv_id", "turn_idx", "role", "tool").unionByName(
        planted.select("conv_id", "turn_idx", "role", "tool")
    )
    cd = conv_dedup(u)
    return cd.select(
        "conv_id",
        "n_turns",
        "sig",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("keep").cast("int").alias("keep"),
    )


# planted snapshot pair both engines build identically from documents:
# every 17th doc removed, every 5th edited in place, every 13th
# re-keyed (+1e6) as an addition — all four diff statuses populated
_DIFF_NEW_SQL = """
      SELECT doc_id,
             text || CASE WHEN doc_id % 5 = 0 THEN ' [v2]' ELSE '' END
               AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 13 = 0
"""
_DIFF_CTE = f"""
    WITH nw AS ({_DIFF_NEW_SQL}
    ), od AS (
      SELECT doc_id AS id, md5(lower(trim(coalesce(text, '')))) AS dig
      FROM documents
    ), nd AS (
      SELECT doc_id AS id, md5(lower(trim(coalesce(text, '')))) AS dig
      FROM nw
    ), df AS (
      SELECT coalesce(od.id, nd.id) AS id,
             od.dig AS old_dig, nd.dig AS new_dig,
             CASE WHEN od.dig IS NULL THEN 'added'
                  WHEN nd.dig IS NULL THEN 'removed'
                  WHEN od.dig = nd.dig THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM od FULL JOIN nd ON od.id = nd.id
    )
"""


def _diff_frames(spark, sf):
    from s3_log_parser_spark.operators.versioning import corpus_diff

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    new = (
        docs.filter(d % 17 != 0)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(d % 5 == 0, F.lit(" [v2]")).otherwise(F.lit("")),
            ).alias("text"),
        )
        .unionByName(
            docs.filter(d % 13 == 0).select(
                (d + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(docs, new)


@q(
    "corpus_diff_rows",
    f"""
    {_DIFF_CTE}
    SELECT id, old_dig, new_dig, status FROM df
    """,
)
def _corpus_diff_rows(spark, sf):
    # snapshot diff (dataset versioning): per-id added/removed/changed/
    # unchanged between two corpus versions. The Spark plan is ONE
    # tagged-union hash aggregate on the id — no join operator at all —
    # while the oracle spells the same relation as a FULL JOIN
    return _diff_frames(spark, sf)


@q(
    "corpus_diff_churn",
    f"""
    {_DIFF_CTE}
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM df GROUP BY status
    """,
)
def _corpus_diff_churn(spark, sf):
    # churn summary of the same diff (≤4 bounded rows)
    from s3_log_parser_spark.operators.versioning import corpus_diff_stats

    return corpus_diff_stats(_diff_frames(spark, sf))


@q(
    "cluster_canonical_rows",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_toks_sql('text')} AS tk FROM documents
    ), tkh AS (
      SELECT doc_id, list_transform(tk, t -> {_djb2_sql('t')}) AS th,
             len(tk) AS ntk
      FROM toks
    ), shc AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN ntk >= 3
               THEN list_transform(generate_series(1, ntk - 2),
                      i -> list_reduce(
                             list_prepend(5381::BIGINT, th[i:i+2]),
                             {_DJB2_FOLD}))
               ELSE [list_reduce(list_prepend(5381::BIGINT, th),
                                 {_DJB2_FOLD})] END) AS hs
      FROM tkh
    ), mh AS (
      SELECT doc_id, {_minhash_cols_sql(8)} FROM shc
    ), cand AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib FROM mh a JOIN mh b
        ON a.doc_id < b.doc_id
       AND ((a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1)
         OR (a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3)
         OR (a.mh_4 = b.mh_4 AND a.mh_5 = b.mh_5)
         OR (a.mh_6 = b.mh_6 AND a.mh_7 = b.mh_7))
    ), pairs AS (
      SELECT c.ia, c.ib FROM cand c
      JOIN shc x ON x.doc_id = c.ia
      JOIN shc y ON y.doc_id = c.ib
      WHERE FLOOR(len(list_intersect(x.hs, y.hs)) * 1000.0
                  / len(list_distinct(x.hs || y.hs))) >= 500
    ), edges AS (
      SELECT ia AS src, ib AS dst FROM pairs
      UNION SELECT ib, ia FROM pairs
    ), reach(id, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
    ), cl AS (
      SELECT CAST(id AS BIGINT) AS id, CAST(MIN(lab) AS BIGINT) AS cid
      FROM reach GROUP BY id
    ), lab AS (
      SELECT d.doc_id AS id, coalesce(cl.cid, d.doc_id) AS cluster_id,
             CAST(length(d.text) AS BIGINT) AS s
      FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
    )
    SELECT id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS group_size,
           CAST(id = first_value(id) OVER (
                  PARTITION BY cluster_id ORDER BY s DESC, id ASC)
                AS INTEGER) AS keep
    FROM lab
    """,
)
def _cluster_canonical_rows(spark, sf):
    # quality-aware canonicalization: each near-dup cluster keeps its
    # highest-score member (ties → min id) instead of the min-id
    # winner — score here is text length (exact in both engines; the
    # operator takes any numeric score, e.g. quality_score_x1000).
    # Every doc appears: cluster-less docs are singletons with keep=1
    from s3_log_parser_spark.operators.dedup import (
        cluster_canonical,
        dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=500, auto_block=True)
    clusters = dup_clusters(pairs)
    scored = docs.select(
        "doc_id", F.length("text").cast("long").alias("s")
    )
    cc = cluster_canonical(scored, clusters, "s")
    return cc.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "group_size",
        F.col("keep").cast("int").alias("keep"),
    )


@q(
    "conv_examples_stats",
    f"""
    WITH t AS ({_TURNS_FROM_EVENTS_SQL}
    ), j AS (
      SELECT conv_id,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(length(coalesce(text, ''))) AS BIGINT)
               AS total_chars,
             arg_min(role, turn_idx) AS first_role,
             arg_max(role, turn_idx) AS last_role,
             string_agg(coalesce(text, ''), chr(31) ORDER BY turn_idx)
               AS joined
      FROM t GROUP BY conv_id
    )
    SELECT conv_id, n_turns, total_chars, first_role, last_role,
           CAST({_djb2_sql('joined')} AS BIGINT) AS text_djb2
    FROM j
    """,
)
def _conv_examples_stats(spark, sf):
    # SFT example assembly: one training example per conversation with
    # its messages array in turn order (write.json = the JSONL file).
    # The oracle pins the assembly exactly — turn count, total chars,
    # first/last role, and a DJB2 digest of the turn-ordered joined
    # text (order-sensitive: a swapped turn changes the digest)
    from s3_log_parser_spark.functions.hashes import djb2_expr
    from s3_log_parser_spark.operators.conversations import conv_examples

    ex = conv_examples(_turns_from_events(spark, sf))
    joined = F.array_join(
        F.transform(
            F.col("messages"), lambda m: F.coalesce(m["text"], F.lit(""))
        ),
        "\x1f",
    )
    return ex.select(
        "conv_id",
        "n_turns",
        "total_chars",
        F.get(F.col("messages"), 0)["role"].alias("first_role"),
        F.element_at(F.col("messages"), -1)["role"].alias("last_role"),
        djb2_expr(joined).cast("long").alias("text_djb2"),
    )


@q(
    "corpus_profile_by_source",
    f"""
    WITH f AS (
      SELECT source, text, {_toks_sql('text')} AS tk,
             len(regexp_extract_all(coalesce(text, ''), '[^\\w\\s]'))
               AS punct,
             {_sw_hits_sql('en')} AS en, {_sw_hits_sql('de')} AS de,
             {_sw_hits_sql('fr')} AS fr, {_sw_hits_sql('es')} AS es
      FROM documents
    ), g AS (
      SELECT source,
             CAST(len(tk) AS BIGINT) AS ntok,
             CAST(length(coalesce(text, '')) AS BIGINT) AS nch,
             md5(lower(trim(coalesce(text, '')))) AS dig,
             CASE WHEN en = greatest(en, de, fr, es) AND en > 0
                  THEN 1 ELSE 0 END AS is_en,
             greatest(0, least(10000,
               CAST(FLOOR(len(list_distinct(tk)) * 1000.0
                          / greatest(len(tk), 1)) AS BIGINT) * 6
               + least(CAST(FLOOR(en * 1000.0 / greatest(len(tk), 1))
                            AS BIGINT) * 4, 1000)
               - least(punct * 10, 500))) AS q
      FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
           CAST(SUM(nch) AS BIGINT) AS sum_chars,
           CAST(MIN(ntok) AS BIGINT) AS min_tokens,
           CAST(MAX(ntok) AS BIGINT) AS max_tokens,
           CAST(COUNT(DISTINCT dig) AS BIGINT) AS n_unique,
           CAST(SUM(is_en) AS BIGINT) AS n_en,
           CAST(SUM(q) AS BIGINT) AS sum_quality_x1000
    FROM g GROUP BY source
    """,
)
def _corpus_profile(spark, sf):
    # the data-card aggregate: docs/tokens/chars/min-max/exact-unique/
    # language-mix/quality-mass per source in ONE scan (count_distinct
    # rides the same aggregate via the standard Expand). Profiling a
    # 100 TB corpus costs exactly one read
    from s3_log_parser_spark.operators.corpus import corpus_profile

    return corpus_profile(_t(spark, sf, "documents"))


# planted repetition view (the natural corpus is single-line with no
# repeats): dup lines (%3), dup paragraphs (%5), a repeated 5-token
# cycle (%7), a dominating 2-gram (%11) — each flag varies, and the
# char-fraction rules vary WITH base doc length
_R3 = "\nrepeated line alpha" * 4
_R5 = "\n\nshared paragraph beta gamma" * 3
_R7 = " v1 v2 v3 v4 v5" * 6
_R11 = " zq xw" * 25
_REP_VIEW_SQL = f"""
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0 THEN '{_R3}' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN '{_R5}' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN '{_R7}' ELSE '' END
        || CASE WHEN doc_id % 11 = 0 THEN '{_R11}' ELSE '' END AS text
      FROM documents
"""


def _rep_oracle_sql() -> str:
    from s3_log_parser_spark.functions.text import (
        GOPHER_DUP_NGRAM_PCT,
        GOPHER_TOP_NGRAM_PCT,
    )

    def items_stats(alias: str, items: str) -> str:
        return f"""
    {alias}x AS (
      SELECT doc_id, unnest({items}) AS it FROM base
    ), {alias}g AS (
      SELECT doc_id, it, COUNT(*) AS c FROM {alias}x GROUP BY 1, 2
    ), {alias}s AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c - 1) AS BIGINT) AS docc,
             CAST(SUM((c - 1) * length(it)) AS BIGINT) AS dxc,
             CAST(SUM(CASE WHEN c >= 2 THEN c * length(it) ELSE 0 END)
                  AS BIGINT) AS dac,
             CAST(MAX(c * length(it)) AS BIGINT) AS top
      FROM {alias}g GROUP BY doc_id
    )"""

    lines = (
        "list_filter(string_split(text, chr(10)), l -> trim(l) != '')"
    )
    paras = (
        "list_filter(string_split(text, chr(10) || chr(10)), "
        "l -> trim(l) != '')"
    )
    ctes = [items_stats("ln", lines), items_stats("pa", paras)]
    joins = ["LEFT JOIN lns ON lns.doc_id = base.doc_id",
             "LEFT JOIN pas ON pas.doc_id = base.doc_id"]
    flag_cols = [
        "CAST(coalesce(lns.docc, 0) * 100"
        " <= greatest(coalesce(lns.n, 0), 1) * 30 AS INTEGER)"
        " AS dup_line_ok",
        "CAST(coalesce(lns.dxc, 0) * 100 <= dc * 20 AS INTEGER)"
        " AS dup_line_char_ok",
        "CAST(coalesce(pas.docc, 0) * 100"
        " <= greatest(coalesce(pas.n, 0), 1) * 30 AS INTEGER)"
        " AS dup_para_ok",
        "CAST(coalesce(pas.dxc, 0) * 100 <= dc * 20 AS INTEGER)"
        " AS dup_para_char_ok",
    ]
    for n in sorted(set(GOPHER_TOP_NGRAM_PCT) | set(GOPHER_DUP_NGRAM_PCT)):
        grams = (
            f"CASE WHEN len(tk) >= {n} THEN "
            f"list_transform(generate_series(1, len(tk) - {n - 1}), "
            f"i -> array_to_string(tk[i:i+{n - 1}], ' ')) "
            "ELSE [] END"
        )
        ctes.append(items_stats(f"g{n}", grams))
        joins.append(f"LEFT JOIN g{n}s ON g{n}s.doc_id = base.doc_id")
    for n, pct in GOPHER_TOP_NGRAM_PCT.items():
        flag_cols.append(
            f"CAST(coalesce(g{n}s.top, 0) * 100 <= dc * {pct} AS INTEGER)"
            f" AS top_{n}gram_ok"
        )
    for n, pct in GOPHER_DUP_NGRAM_PCT.items():
        flag_cols.append(
            f"CAST(coalesce(g{n}s.dac, 0) * 100 <= dc * {pct} AS INTEGER)"
            f" AS dup_{n}gram_ok"
        )
    names = [c.split(" AS ")[-1] for c in flag_cols]
    conj = " AND ".join(f"{nm} = 1" for nm in names)
    return f"""
    WITH gdocs AS ({_REP_VIEW_SQL}
    ), base AS (
      SELECT doc_id, coalesce(text, '') AS text,
             {_toks_sql('text')} AS tk,
             CAST(greatest(length(coalesce(text, '')), 1) AS BIGINT) AS dc
      FROM gdocs
    ), {','.join(ctes)}
    SELECT base.doc_id, {', '.join(flag_cols)},
           CAST({conj} AS INTEGER) AS repetition_pass
    FROM base {' '.join(joins)}
    """


@q("text_repetition_flags", _rep_oracle_sql())
def _rep_flags(spark, sf):
    # the Gopher repetition-rule suite (Rae et al. 2021 A1.2) — the
    # intra-doc complement of text_gopher_flags (A1.1): dup line/para
    # occurrence + char fractions, top-{2,3,4}-gram char fractions,
    # dup-{5..10}-gram char fractions, all exact cross-multiplied
    # integers over a planted derived view both engines build
    # identically. The oracle computes every per-value stat via plain
    # unnest + GROUP BY (no list_reduce struct folds — DuckDB 1.0's
    # multi-row reduce miscomputes struct accumulators); Spark uses
    # the row-local sorted-fold (no shuffle), so the row MATCHING also
    # pins the fold against an independent formulation
    from s3_log_parser_spark.functions.text import gopher_repetition_flags

    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        *[
            F.when(d % m == 0, F.lit(s)).otherwise(F.lit(""))
            for m, s in ((3, _R3), (5, _R5), (7, _R7), (11, _R11))
        ],
    )
    gdocs = _t(spark, sf, "documents").select("doc_id", planted.alias("text"))
    fl = gopher_repetition_flags("text")
    return gdocs.select(
        "doc_id", *[c.cast("int").alias(k) for k, c in fl.items()]
    )


@q(
    "importance_resample_topk",
    f"""
    {_IMP_CTE}
    , sc AS (
      SELECT e.doc_id, CAST(SUM(wt.weight_x1000) AS BIGINT) AS imp_x1000
      FROM e JOIN wt USING (bucket) GROUP BY e.doc_id
    )
    SELECT d.doc_id, d.source, sc.imp_x1000
    FROM documents d JOIN sc ON sc.doc_id = d.doc_id
    ORDER BY sc.imp_x1000 DESC, d.doc_id ASC LIMIT 50
    """,
)
def _imp_resample(spark, sf):
    # the resampling step of DSIR: deterministic top-k most target-like
    # docs (score desc, id asc — TakeOrderedAndProject heaps, no full
    # sort; the ≤k winner set broadcasts back onto the corpus rows)
    from s3_log_parser_spark.operators.importance import (
        bucket_frame,
        bucket_weights,
        importance_resample,
    )

    docs = _t(spark, sf, "documents")
    # ONE staged kernel pass feeds weights (both streams) and scoring
    bf = bucket_frame(docs, "text", 2, 512, "djb2", keep=("doc_id",))
    bf = bf.localCheckpoint(eager=True)
    w = bucket_weights(
        docs, docs.filter(F.col("doc_id") % 7 == 0), n=2, buckets=512,
        raw_buckets=bf,
        target_buckets=bf.filter(F.col("doc_id") % 7 == 0),
    )
    top = importance_resample(
        docs.select("doc_id", "source", "text"), w, k=50, n=2, buckets=512,
        buckets_df=bf,
    )
    return top.select("doc_id", "source", "imp_x1000")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in _driver_order(_QUERIES)}


def oracle_sql() -> dict[str, str]:
    order = _driver_order(_QUERIES)
    return {n: _ORACLES[n] for n in order if n in _ORACLES}
