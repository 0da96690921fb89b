"""Shared test helpers (not a test module)."""

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def align_schema(df: DataFrame, like: DataFrame) -> DataFrame:
    """Reorder + cast columns to match ``like`` — partitioned-parquet
    read-back moves partition columns to the end and re-infers their
    types (e.g. a LONG day_bucket comes back INT), so set-equality
    checks must re-align first."""
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in like.schema.fields]
    )


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


def _token_digests(text: str | None) -> list[int]:
    """Each whitespace token's DJB2 digest, in order: tokens split on
    Java's ASCII ``\\s`` (``[ \\t\\n\\r\\f\\v]+``) with empty pieces
    dropped, and each digest ``h = (h*33 + codepoint) mod 2^32`` from
    5381 over the token's CODEPOINTS, as ``djb2_expr`` computes it."""
    digests = []
    for tok in re.split(r"[ \t\n\r\f\v]+", text or ""):
        if tok:
            h = 5381
            for ch in tok:
                h = (h * 33 + ord(ch)) & 0xFFFFFFFF
            digests.append(h)
    return digests


def shingles_py(text: str | None, n: int) -> list[int]:
    """Pure-Python word n-gram shingle hashes, the reference the djb2
    family of ``shingles_arrow.with_shingles`` is pinned against: fold
    ``h = (h*33 + d) mod 2^32`` from 5381 over the token digests ``d``
    of each n-token window, or over all tokens when there are fewer
    than n (NULL or empty text: ``[5381]``); distinct values in
    first-occurrence order."""
    d = _token_digests(text)
    windows = [d[i : i + n] for i in range(len(d) - n + 1)] or [d]
    out: dict[int, None] = {}
    for w in windows:
        h = 5381
        for x in w:
            h = (h * 33 + x) & 0xFFFFFFFF
        out.setdefault(h, None)
    return list(out)


def simhash_py(text: str | None, bits: int) -> int | None:
    """Pure-Python B-bit SimHash, the reference ``dedup.simhash_df`` is
    pinned against: over the token digests ``h`` of
    :func:`_token_digests`, bit j set when Σ over tokens of
    ``2·(((2j+1)·h + j²+7) mod P mod 2) − 1`` is positive, with P the
    MinHash prime. Bit 63 is the sign bit of the signed long. A text
    with no token has no signature: None."""
    p = 4294967311
    digests = _token_digests(text)
    if not digests:
        return None
    out = 0
    for j in range(bits):
        vote = sum(((2 * j + 1) * h + j * j + 7) % p % 2 * 2 - 1 for h in digests)
        if vote > 0:
            out |= 1 << j
    return out - (1 << 64) if out >= 1 << 63 else out
