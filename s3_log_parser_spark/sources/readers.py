"""Raw sources (SURVEY §2.1 S1): the reference reads ≤1024-byte text
lines from files/stdin (``/root/reference/src/s3parser.c:46``,
``src/s3driver.c:114-121``). Spark-side, a raw S3-access-log directory
becomes a one-column text DataFrame; wrapping it in the transcript
shape lets every downstream stage (grok bank, encode, router) run
unchanged on native log files — the engine serves both the original
log workload and the transcript graft.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_raw_logs(spark: SparkSession, path: str) -> DataFrame:
    """raw log text files → transcripts-shaped DataFrame.

    conv identity is the remote-ip token (field 4) so the
    stable-turn-ordering window and conv-keyed stages have a key;
    turn_idx is the line's order within that conversation by file
    position (the distributed surrogate for the reference's
    sequential file order).
    """
    lines = spark.read.text(path)  # column: value
    df = lines.select(F.col("value").alias("text"))
    ip = F.regexp_extract("text", r"^\S+ \S+ \[[^\]]*\] (\S+)", 1)
    ts_str = F.regexp_extract("text", r"\[([^\]]*)\]", 1)
    conv = F.when(ip != "", F.concat(F.lit("conv-"), ip)).otherwise(F.lit("conv-?"))
    df = df.withColumn("conv_id", conv).withColumn(
        # try_: NULL on malformed lines in both ANSI modes
        "ts", F.try_to_timestamp(ts_str, F.lit("dd/MMM/yyyy:HH:mm:ss Z"))
    )
    w = Window.partitionBy("conv_id").orderBy(F.col("ts").asc_nulls_last(), "text")
    return df.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("log").alias("role"),
        "text",
        F.regexp_extract(
            "text", r'\S+ \S+ \[[^\]]*\] \S+ \S+ \S+ \S+ /?([^/ ]+)', 1
        ).alias("tool"),
        "ts",
    )

