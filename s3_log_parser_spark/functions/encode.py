"""E1-E9: parsed turn → encoded ("slim") record.

The columnar analog of ``extract_log_entry``
(``/root/reference/src/s3parser.c:373-408``): every scalar derivation
is a Catalyst expression in :func:`encode_slim_flat`, over the flat
typed columns of the Arrow parse kernel, which has already computed
the DJB2 hashes (``functions/parsing_arrow.py``). The Catalyst
reference parse reaches the same columns through
``plans.pipeline._parse_sql_flat`` and then runs this same encode.

The packed 28-byte struct's compression role is played by
Parquet/Iceberg columnar encoding (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SECONDS_PER_DAY
from .parsing import clamp_http_code


def encode_slim_flat(df: DataFrame) -> DataFrame:
    """Derive the encoded slim columns from the flat typed columns
    ``parse_text_arrow`` emits: E1 epoch and A2 integer day bucket
    (UTC-pinned; the reference's mktime uses local tz), E3 KB
    quantization, E4 ms passthrough, P3 domain clamp + E5 narrowing,
    E6 completion percent (integer division, 0-guard). The E2 DJB2
    hashes and the P5 range arrive with the parse."""
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
