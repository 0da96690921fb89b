"""P1-P8: vectorized grok parse of the turn ``text`` payload.

The reference's heart is a 268-line single-pass positional tokenizer
(``/root/reference/src/s3parser.c:93-360``: space-delimited with
quote-toggling and bracket-depth tracking). The format is regular, so
here it is ONE precompiled anchored regex (the "pattern bank"), applied
two ways:

- ``functions/parsing_arrow.parse_text_arrow`` — the production path:
  one ``mapInArrow`` kernel (RE2 + Arrow splits + dictionary DJB2)
  emitting only the flat slim columns.
- :func:`parse_text_sql` — pure-Catalyst ``regexp_extract`` per field
  from the same pattern, returning the full typed ``parsed`` struct:
  the zero-Python reference the Arrow kernel is checked against, the
  source of the byte-exact round-trip (``tests/helpers.py``
  ``reassemble_text``) and the shape the DuckDB oracle mirrors.

Typed casts (P4), http-code domain clamp (P3), timestamp parse (P2) and
range split (P5) happen *after* extraction in Catalyst so failures feed
an explicit ``parse_status`` column instead of the reference's silent
zeroing (src/s3parser.c:165-171, 216-218 — SURVEY.md §1.3).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import PARSED_FIELDS

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


def parse_text_sql(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Grok parse in pure Catalyst: ``regexp_extract`` per field from the
    pattern bank → ``parsed`` struct (typed fields), ``event_ts`` and
    ``parse_status``.

    regexp_extract needs numbered groups; group i+1 corresponds to
    field i because the bank has exactly one group per field.
    """
    text = F.col(text_col)
    plain = re.sub(r"\(\?P<[^>]+>", "(", S3_LINE_PATTERN)
    # regexp_extract returns '' on a miss and for a group that did not
    # take part, so match probes tell them apart: the line, and the
    # line with the optional range group made mandatory (a trailing
    # '""' is an empty range, not a missing one)
    matched = text.rlike(plain)
    has_range = text.rlike(plain.removesuffix(")?$") + ")$")
    raw = {
        name: F.when(
            has_range if name == "range_header" else matched,
            F.regexp_extract(text, plain, i + 1),
        )
        for i, (name, _) in enumerate(PARSED_FIELDS)
    }
    fields: list[Column] = []
    for name, typ in PARSED_FIELDS:
        c = raw[name]
        if name in _INT_FIELDS:
            # try_cast: NULL on non-numeric ('-') in BOTH ANSI modes —
            # a plain cast throws CAST_INVALID_INPUT under ANSI
            c = c.try_cast(typ)
        fields.append(c.alias(name))

    # try_to_timestamp: NULL on malformed input in BOTH ANSI modes (the
    # bad_time rows would throw CANNOT_PARSE_TIMESTAMP under ANSI)
    ts = F.try_to_timestamp(raw["ts_str"], F.lit(TS_FORMAT))
    status = F.when(
        matched, F.when(ts.isNull(), F.lit("bad_time")).otherwise(F.lit("ok"))
    ).otherwise(F.lit("bad_format"))
    return (
        df.withColumn("parsed", F.struct(*fields))
        .withColumn("event_ts", ts)
        .withColumn("parse_status", status)
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
