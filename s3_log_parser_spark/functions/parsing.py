"""P1-P8: vectorized grok parse of the turn ``text`` payload.

The reference's heart is a 268-line single-pass positional tokenizer
(``/root/reference/src/s3parser.c:93-360``: space-delimited with
quote-toggling and bracket-depth tracking). The format is regular, so
here it is ONE precompiled anchored regex (the "pattern bank"), applied
two ways:

- :func:`parse_text_pandas` — the hot path named by the north_star: a
  vectorized pandas UDF (`pandas .str.extract` → C regex engine over an
  Arrow batch; zero per-row Python) returning a struct of raw string
  fields.
- :func:`parse_text_sql` — pure-Catalyst ``regexp_extract`` per field
  from the same pattern; used as the JVM-side cross-check and the shape
  the DuckDB oracle mirrors.

Typed casts (P4), http-code domain clamp (P3), timestamp parse (P2) and
range split (P5) happen *after* extraction in Catalyst so failures feed
an explicit ``parse_status`` column instead of the reference's silent
zeroing (src/s3parser.c:165-171, 216-218 — SURVEY.md §1.3).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..schemas import PARSED_FIELDS, PARSED_RAW_STRUCT

# field-name order must match PARSED_FIELDS / reassembly
_FIELD_PATTERNS: list[tuple[str, str]] = [
    ("owner", r"(?P<owner>\S+)"),
    ("bucket", r"(?P<bucket>\S+)"),
    ("ts_str", r"\[(?P<ts_str>[^\]]*)\]"),
    ("remote_ip", r"(?P<remote_ip>\S+)"),
    ("requester", r"(?P<requester>\S+)"),
    ("req_id", r"(?P<req_id>\S+)"),
    ("operation", r"(?P<operation>\S+)"),
    ("key", r"(?P<key>\S+)"),
    ("request_uri", r'"(?P<request_uri>[^"]*)"'),
    ("http_code", r"(?P<http_code>\d+)"),
    ("error_code", r"(?P<error_code>\S+)"),
    ("bytes_sent", r"(?P<bytes_sent>\S+)"),
    ("object_size", r"(?P<object_size>\S+)"),
    ("total_time_ms", r"(?P<total_time_ms>\S+)"),
    ("turnaround_ms", r"(?P<turnaround_ms>\S+)"),
    ("referrer", r'"(?P<referrer>[^"]*)"'),
    ("user_agent", r'"(?P<user_agent>[^"]*)"'),
    ("version_id", r"(?P<version_id>\S+)"),
    ("host_id", r"(?P<host_id>\S+)"),
    ("sig_version", r"(?P<sig_version>\S+)"),
    ("cipher", r"(?P<cipher>\S+)"),
    ("auth_type", r"(?P<auth_type>\S+)"),
    ("host_header", r"(?P<host_header>\S+)"),
    ("tls_version", r"(?P<tls_version>\S+)"),
    ("access_point_arn", r"(?P<access_point_arn>\S+)"),
    ("acl_required", r"(?P<acl_required>\S+)"),
]

# optional trailing 27th field: quoted Range header, only on 206 rows
# (reference: src/s3parser.c:323-340; generator src/fake_logs.c:94-99)
S3_LINE_PATTERN = (
    "^"
    + " ".join(p for _, p in _FIELD_PATTERNS)
    + r'(?: "(?P<range_header>[^"]*)")?$'
)

TS_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"  # P2 — src/s3parser.c:161 strptime fmt

_INT_FIELDS = {n for n, t in PARSED_FIELDS if t.typeName() in ("integer", "long")}


def parse_text_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hot-path grok parse: one pandas UDF → ``parsed`` struct column.

    Uses mapInPandas-free scalar pandas_udf with a struct return type;
    pandas ``.str.extract`` compiles the bank once per worker.
    """

    @pandas_udf(PARSED_RAW_STRUCT)
    def grok(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import re

        pat = re.compile(S3_LINE_PATTERN)
        cols = [n for n, _ in PARSED_FIELDS]
        for s in it:
            out = s.str.extract(pat)
            yield out[cols]

    parsed = df.withColumn("_raw", grok(F.col(text_col)))
    return _typed_from_raw(parsed, text_col)


# minimal fused output: only what the slim table needs crosses Arrow.
# The full 27-field struct costs ~600 B/row of Arrow transfer + struct
# assembly; the pipeline only consumes these typed columns (the full
# struct path stays for the byte-exact round-trip invariant).
_SLIM_PARSE_STRUCT = T.StructType(
    [
        T.StructField("event_ts", T.TimestampType(), True),
        T.StructField("parse_status", T.StringType(), False),
        T.StructField("ip_hash", T.LongType(), False),
        T.StructField("key_hash", T.LongType(), False),
        T.StructField("tool_hash", T.LongType(), False),
        T.StructField("conv_hash", T.LongType(), False),
        T.StructField("http_code_raw", T.IntegerType(), True),
        T.StructField("bytes_sent", T.LongType(), True),
        T.StructField("object_size", T.LongType(), True),
        T.StructField("total_time_ms", T.IntegerType(), True),
        T.StructField("byte_start", T.LongType(), True),
        T.StructField("byte_end", T.LongType(), True),
        T.StructField("user_agent", T.StringType(), True),
    ]
)


def parse_text_slim(
    df: DataFrame, text_col: str = "text", conv_col: str = "conv_id"
) -> DataFrame:
    """Hot-path fused parse: grok + DJB2 + timestamp + range decode in
    one Arrow-batched pandas UDF, returning ONLY the narrow typed
    columns the slim table consumes.

    Semantics identical to parse_text_pandas → encode_slim (pinned by
    tests/test_pipeline.py::test_fused_equals_modular); the timestamp
    parse honors %z and lands UTC (the reference's local-time mktime
    bug is deliberately not reproduced — SURVEY.md §2.2 P2).
    """

    @pandas_udf(_SLIM_PARSE_STRUCT)
    def grok_slim(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        import re

        import numpy as np

        from .hashes import djb2_py

        pat = re.compile(S3_LINE_PATTERN)
        seg_re = re.compile(r"^/?([^/]*)")
        rng_re = re.compile(r"bytes=?(\d+)-(\d+)")
        cache: dict = {}
        CACHE_CAP = 2_000_000

        def h(v):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                return 5381
            r = cache.get(v)
            if r is None:
                r = djb2_py(v)
                if len(cache) < CACHE_CAP:
                    cache[v] = r
            return r

        def seg_h(v):
            if v is None or (isinstance(v, float) and pd.isna(v)) or v == "":
                return 5381
            return h(seg_re.match(v).group(1))

        def rng(v, g):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                return None
            m = rng_re.search(v)
            return int(m.group(g)) if m else None

        for text, conv in it:
            raw = text.str.extract(pat)
            ts = pd.to_datetime(
                raw["ts_str"], format="%d/%b/%Y:%H:%M:%S %z", errors="coerce", utc=True
            )
            # unify the offset domain with the java/Arrow paths: strict
            # ±HHMM with |offset| ≤ 18:00 (python %z alone accepts up
            # to ±23:59 and exotic spellings like 'Z'/'+HH:MM', which
            # java's ZoneOffset / the Arrow kernel reject — cross-parser
            # fuzz found '-2359' diverging)
            off = raw["ts_str"].str.extract(r" [+-](\d{2})(\d{2})$")
            off_ok = (
                off[0].notna()
                & (pd.to_numeric(off[1], errors="coerce") <= 59)
                & (
                    pd.to_numeric(off[0], errors="coerce") * 60
                    + pd.to_numeric(off[1], errors="coerce")
                    <= 18 * 60
                )
            )
            ts = ts.where(off_ok, pd.NaT)
            status = np.where(
                raw["owner"].isna(),
                "bad_format",
                np.where(ts.isna() & raw["ts_str"].notna(), "bad_time", "ok"),
            )
            out = pd.DataFrame(
                {
                    "event_ts": ts,
                    "parse_status": status,
                    "ip_hash": raw["remote_ip"].map(h).astype("int64"),
                    "key_hash": raw["key"].map(h).astype("int64"),
                    "tool_hash": raw["key"].map(seg_h).astype("int64"),
                    "conv_hash": conv.map(h).astype("int64"),
                    "http_code_raw": pd.to_numeric(
                        raw["http_code"], errors="coerce"
                    ).astype("Int32"),
                    "bytes_sent": pd.to_numeric(
                        raw["bytes_sent"], errors="coerce"
                    ).astype("Int64"),
                    "object_size": pd.to_numeric(
                        raw["object_size"], errors="coerce"
                    ).astype("Int64"),
                    "total_time_ms": pd.to_numeric(
                        raw["total_time_ms"], errors="coerce"
                    ).astype("Int32"),
                    "byte_start": raw["range_header"]
                    .map(lambda v: rng(v, 1))
                    .astype("Int64"),
                    "byte_end": raw["range_header"]
                    .map(lambda v: rng(v, 2))
                    .astype("Int64"),
                    "user_agent": raw["user_agent"],
                }
            )
            yield out

    p = df.withColumn("_p", grok_slim(F.col(text_col), F.col(conv_col)))
    for f in _SLIM_PARSE_STRUCT.fields:
        p = p.withColumn(f.name, F.col("_p")[f.name])
    return p.drop("_p")


def parse_text_sql(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Catalyst-only variant: regexp_extract per field, same pattern.

    regexp_extract needs numbered groups; group i+1 corresponds to
    field i because the bank has exactly one group per field.
    """
    # convert named groups to plain groups for JVM regex group indexing
    import re as _re

    plain = _re.sub(r"\(\?P<[^>]+>", "(", S3_LINE_PATTERN)
    exprs = []
    for i, (name, _) in enumerate(PARSED_FIELDS):
        g = F.regexp_extract(F.col(text_col), plain, i + 1)
        exprs.append(g.alias(name))
    # regexp_extract returns '' on miss — use a match probe to distinguish
    matched = F.col(text_col).rlike(plain)
    raw = F.when(matched, F.struct(*exprs)).otherwise(F.lit(None))
    parsed = df.withColumn("_raw", raw.cast(PARSED_RAW_STRUCT))
    return _typed_from_raw(parsed, text_col, empty_range_is_null=True)


def _typed_from_raw(
    df: DataFrame, text_col: str, empty_range_is_null: bool = False
) -> DataFrame:
    """Shared cast + parse_status derivation from the raw string struct."""
    r = F.col("_raw")
    fields: list[Column] = []
    for name, typ in PARSED_FIELDS:
        c = r[name]
        if name == "range_header" and empty_range_is_null:
            c = F.when(c == "", F.lit(None)).otherwise(c)
        if name in _INT_FIELDS:
            # try_cast: NULL on non-numeric ('-') in BOTH ANSI modes —
            # a plain cast throws CAST_INVALID_INPUT under ANSI
            c = c.try_cast(typ)
        fields.append(c.alias(name))

    # try_to_timestamp: NULL on malformed input in BOTH ANSI modes (the
    # bad_time rows would throw CANNOT_PARSE_TIMESTAMP under ANSI)
    ts = F.try_to_timestamp(r["ts_str"], F.lit(TS_FORMAT))
    return (
        df.withColumn("parsed", F.struct(*fields))
        .withColumn("event_ts", ts)
        .withColumn(
            "parse_status",
            F.when(r["owner"].isNull(), F.lit("bad_format"))
            .when(r["ts_str"].isNotNull() & ts.isNull(), F.lit("bad_time"))
            .otherwise(F.lit("ok")),
        )
        .drop("_raw")
    )


def clamp_http_code(col: Column | str) -> Column:
    """P3: 200 ≤ code ≤ 599 else 0 (src/s3parser.c:214-223)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.between(200, 599), c).otherwise(F.lit(0)).cast("int")


def parse_range(col: Column | str) -> tuple[Column, Column]:
    """P5 *intended* semantics: '"bytes=0-12345"' → (start, end).

    The reference's sscanf pattern lacks the '=' so real ranges never
    populate (src/s3parser.c:334 vs fake_logs.c:98) — we implement the
    intent and accept both spellings.
    """
    c = F.col(col) if isinstance(col, str) else col
    # regexp_extract returns '' on no-match → try_cast gives NULL in
    # BOTH ANSI modes (plain cast throws CAST_INVALID_INPUT under ANSI)
    start = F.regexp_extract(c, r"bytes=?(\d+)-(\d+)", 1).try_cast("long")
    end = F.regexp_extract(c, r"bytes=?(\d+)-(\d+)", 2).try_cast("long")
    return start, end


def reassemble_text(parsed: Column) -> Column:
    """Rebuild the raw line from the parsed struct — byte-exact inverse
    of the grok bank for parse_status='ok' rows (north_rule round-trip).
    """
    p = parsed
    base = F.concat_ws(
        " ",
        p["owner"],
        p["bucket"],
        F.concat(F.lit("["), p["ts_str"], F.lit("]")),
        p["remote_ip"],
        p["requester"],
        p["req_id"],
        p["operation"],
        p["key"],
        F.concat(F.lit('"'), p["request_uri"], F.lit('"')),
        p["http_code"].cast("string"),
        p["error_code"],
        p["bytes_sent"].cast("string"),
        p["object_size"].cast("string"),
        p["total_time_ms"].cast("string"),
        p["turnaround_ms"].cast("string"),
        F.concat(F.lit('"'), p["referrer"], F.lit('"')),
        F.concat(F.lit('"'), p["user_agent"], F.lit('"')),
        p["version_id"],
        p["host_id"],
        p["sig_version"],
        p["cipher"],
        p["auth_type"],
        p["host_header"],
        p["tls_version"],
        p["access_point_arn"],
        p["acl_required"],
    )
    return F.when(
        p["range_header"].isNotNull(),
        F.concat(base, F.lit(' "'), p["range_header"], F.lit('"')),
    ).otherwise(base)


def contains_pattern(col: Column | str, pattern: str) -> Column:
    """P6 check_pattern (src/s3parser.c:662-680): plain substring, 0/1."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.contains(pattern), F.lit(1)).otherwise(F.lit(0))


def json_field(col: Column | str, field: str) -> Column:
    """Null-safe scalar extraction from a JSON-string column (beyond
    the reference, which only WRITES JSON — src/s3extract.c:232-258;
    an analytics engine over event logs also has to READ the
    semi-structured ``props`` payloads they carry).

    ``get_json_object`` is codegen'd JVM-side and returns NULL on
    malformed input or a missing key — never throws, even ANSI-on —
    so the malformed slice of a 100 TB corpus degrades to NULLs the
    caller can count, not a failed stage. For wide extraction of many
    fields prefer ``F.from_json`` with an explicit schema (one parse
    per row instead of one per field); for a single scalar this form
    skips schema plumbing and prunes to the one key.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{field}")
