"""E1-E9: parsed turn → encoded ("slim") record.

The columnar analog of ``extract_log_entry``
(``/root/reference/src/s3parser.c:373-408``): every scalar derivation
is a Catalyst expression, in two shapes:

- :func:`encode_slim_flat` — production: over the flat typed columns
  of the Arrow parse kernel, which has already computed the DJB2
  hashes (``functions/parsing_arrow.py``).
- :func:`encode_slim` — the reference: over the ``parsed`` struct of
  ``parse_text_sql``, hashing with ``djb2_expr``.

The packed 28-byte struct's compression role is played by
Parquet/Iceberg columnar encoding (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SECONDS_PER_DAY
from .hashes import djb2_expr, first_path_segment
from .parsing import clamp_http_code, parse_range


def encode_slim(df: DataFrame) -> DataFrame:
    """Derive all slim columns from a DataFrame holding ``parsed``
    (struct), ``event_ts``, ``parse_status`` and the transcript columns.

    Expects to run after parse; enrichment (system/platform) and flags
    attach separately (operators/enrich.py, operators/flags.py).
    """
    p = F.col("parsed")
    byte_start, byte_end = parse_range(p["range_header"])
    return (
        df
        # E1 epoch (UTC-pinned; reference mktime uses local tz — fixed)
        .withColumn("ts_unix", F.unix_timestamp(F.col("event_ts")))
        # A2 day bucket: integer day key for byte-parity with
        # s3extract.c:159 (timestamp / 86400)
        .withColumn(
            "day_bucket",
            (F.col("ts_unix") / SECONDS_PER_DAY).cast("long"),
        )
        # E2 DJB2 dictionary hashes (src/s3parser.c:377-379)
        .withColumn("ip_hash", djb2_expr(p["remote_ip"]))
        .withColumn("key_hash", djb2_expr(p["key"]))
        .withColumn("tool_hash", djb2_expr(first_path_segment(p["key"])))
        .withColumn("conv_hash", djb2_expr(F.col("conv_id")))
        # E3 KB quantization (floor division by 1024)
        .withColumn(
            "bytes_sent_kb", F.floor(p["bytes_sent"] / 1024).cast("int")
        )
        .withColumn(
            "object_size_kb", F.floor(p["object_size"] / 1024).cast("int")
        )
        # E4 ms passthrough
        .withColumn("download_time_ms", p["total_time_ms"].cast("int"))
        # P3 domain clamp + E5 narrowing compat
        .withColumn("http_code", clamp_http_code(p["http_code"]))
        .withColumn("http_code_u8", F.pmod(F.col("http_code"), F.lit(256)).cast("int"))
        # E6 completion percent (integer division, 0-guard)
        .withColumn(
            "completion_percent",
            F.when(
                p["object_size"].isNull() | (p["object_size"] == 0), F.lit(0)
            )
            .otherwise(F.floor(p["bytes_sent"] * 100 / p["object_size"]))
            .cast("int"),
        )
        # P5 range decode feeding ST2
        .withColumn("byte_start", byte_start)
        .withColumn("byte_end", byte_end)
        .withColumn("object_size", p["object_size"])
    )


def encode_slim_flat(df: DataFrame) -> DataFrame:
    """encode stage over the flat typed columns ``parse_text_arrow``
    emits (same derivations as encode_slim, zero struct access)."""
    return (
        df.withColumn("ts_unix", F.unix_timestamp(F.col("event_ts")))
        .withColumn(
            "day_bucket", (F.col("ts_unix") / SECONDS_PER_DAY).cast("long")
        )
        .withColumn("bytes_sent_kb", F.floor(F.col("bytes_sent") / 1024).cast("int"))
        .withColumn(
            "object_size_kb", F.floor(F.col("object_size") / 1024).cast("int")
        )
        .withColumn("download_time_ms", F.col("total_time_ms").cast("int"))
        .withColumn("http_code", clamp_http_code(F.col("http_code_raw")))
        .withColumn(
            "http_code_u8", F.pmod(F.col("http_code"), F.lit(256)).cast("int")
        )
        .withColumn(
            "completion_percent",
            F.when(
                F.col("object_size").isNull() | (F.col("object_size") == 0),
                F.lit(0),
            )
            .otherwise(F.floor(F.col("bytes_sent") * 100 / F.col("object_size")))
            .cast("int"),
        )
    )


SLIM_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "role_id",
    "tool",
    "tool_id",
    "ts",
    "ts_unix",
    "day_bucket",
    "conv_hash",
    "ip_hash",
    "key_hash",
    "tool_hash",
    "bytes_sent_kb",
    "object_size_kb",
    "download_time_ms",
    "http_code",
    "http_code_u8",
    "system_id",
    "os_id",
    "device_id",
    "platform_id",
    "platform_id_u8",
    "completion_percent",
    "flags",
    "parse_status",
]
