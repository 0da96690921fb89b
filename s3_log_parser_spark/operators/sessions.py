"""Gap-based sessionization — the classic log-pipeline segmentation
operator (not in the reference, but the first thing users of a
transcript/event pipeline ask for: "split each user's stream into
sessions at >N-minute silences").

Shape: ONE window shuffle on the session key (lag → new-session flag →
running sum), then hash aggregates. The window is unavoidable — session
identity is an order-dependent prefix property — and shuffles only the
projected columns; everything else is map-side. Gap comparison is done
in MICROSECONDS (``unix_micros``) so Spark and the DuckDB oracle
(``epoch_us``) agree exactly; ``unix_timestamp`` would truncate
sub-second timestamps and disagree at gap boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Append ``session_idx`` (0-based per ``user_id``, in
    ``(ts, event_id)`` order): a new session starts when the gap to the
    previous event exceeds ``gap_seconds`` (strictly greater,
    microsecond-exact)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast: unix_micros rejects TIMESTAMP_NTZ (parquet-inferred); the
    # session is UTC-pinned so the instant is unchanged
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    new_s = F.when(
        prev.isNull() | ((us - prev) > gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_idx", (F.sum(new_s).over(run) - 1).cast("long"))


def session_stats(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-``user_id`` session summary over ``(ts, event_id)`` order:
    session count, event count, largest session, and total in-session
    span (whole seconds, floored)."""
    s = sessionize(df, gap_seconds=gap_seconds)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per = s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("_n"),
        (F.max(us) - F.min(us)).alias("_span_us"),
    ).withColumn(
        # integer division (SQL `div`), never float `/`: a double
        # quotient's floor can misround at the boundary and break the
        # cross-engine exact compare (DuckDB side uses `//`)
        "_span_sec", F.expr("_span_us div 1000000")
    )
    return per.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("_n").cast("long").alias("n_events"),
        F.max("_n").cast("long").alias("max_session_events"),
        F.sum("_span_sec").cast("long").alias("total_span_sec"),
    )
