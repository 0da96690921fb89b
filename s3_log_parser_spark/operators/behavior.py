"""Behavioral log analytics: funnels, retention cohorts, windowed
anomaly flags — the product-analytics query tier over an event log
(beyond the reference, whose aggregation stops at group counts,
src/s3extract.c:120-180; any team running it against clickstream-shaped
logs asks for these three next).

Scale shapes:

- **funnel**: events are filtered to the step types FIRST (map-side,
  usually a >90% reduction), then ONE shuffle groups each user's step
  events; the ordered fold over the per-user array is O(events) exact
  subsequence matching — no regex backtracking, no per-step self-join
  (the naive k-step funnel is k-1 joins). Per-user arrays are bounded
  by that user's step events; a per-key cap guards pathological keys.
- **retention**: (user, day) distinct → per-user min (the cohort) via
  one window on the SAME partitioning → one (cohort, offset) count.
- **anomaly**: a per-key ROWS window of the trailing history; the
  z² test is pure integer algebra ((n·x-S)² vs k²·(n·Q-S²)), so
  Spark and the DuckDB oracle agree exactly — no float variance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400
# funnel_steps: the most step events one key may collect
MAX_EVENTS_PER_KEY = 100_000


def funnel_steps(df: DataFrame, steps: list[str]) -> DataFrame:
    """Per ``user_id``: ``furthest_step`` ∈ [0, len(steps)] — the longest
    prefix of ``steps`` appearing as an ordered subsequence of that
    key's ``event_type`` stream in ``(ts, event_id)`` order (the
    standard "signup → view → click → buy"
    conversion semantics; repeats allowed, gaps allowed).

    Exact O(events) via a left fold over the time-sorted step events:
    state = steps matched so far, advance when the next needed step
    arrives. ``MAX_EVENTS_PER_KEY`` bounds the collected array — a key
    past it means a bot/skew key that needs upstream triage, not a
    silently OOMing executor."""
    if not steps or len(set(steps)) != len(steps):
        raise ValueError("steps must be non-empty and distinct")
    per_key = (
        df.filter(F.col("event_type").isin(steps))
        .select(
            "user_id",
            F.struct("ts", "event_id", F.col("event_type").alias("_s")).alias("_e"),
        )
        .groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list("_e")).alias("_evs"),
            F.count("*").alias("_n"),
        )
    )
    per_key = per_key.withColumn(
        "_evs",
        F.when(F.col("_n") <= MAX_EVENTS_PER_KEY, F.col("_evs")).otherwise(
            F.raise_error(
                F.format_string(
                    "funnel key exceeds MAX_EVENTS_PER_KEY=%d: %s",
                    F.lit(MAX_EVENTS_PER_KEY),
                    F.col("user_id").cast("string"),
                )
            )
        ),
    )

    def _advance(acc: Column, ev: Column) -> Column:
        out = acc
        # build the CASE ladder from the last step down so earlier
        # whens (lower acc) take precedence in the final expression
        cond = None
        for i, s in enumerate(steps):
            c = (acc == i) & (ev["_s"] == s)
            cond = c if cond is None else cond | c
        return F.when(cond, acc + 1).otherwise(out)

    furthest = F.aggregate(
        F.col("_evs"), F.lit(0), _advance
    ).cast("int")
    return per_key.select("user_id", furthest.alias("furthest_step"))


def funnel_conversion(df: DataFrame, steps: list[str]) -> DataFrame:
    """Funnel summary: users whose furthest step is exactly k, plus the
    cumulative reached-step-k count the conversion chart plots."""
    per_user = funnel_steps(df, steps)
    exact = per_user.groupBy("furthest_step").agg(
        F.count("*").cast("long").alias("n_users")
    )
    w = Window.orderBy(F.col("furthest_step").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # cumulative over ≤ len(steps)+1 rows — the window is trivial
    return exact.withColumn(
        "n_reached", F.sum("n_users").over(w).cast("long")
    )


def retention_cohorts(df: DataFrame) -> DataFrame:
    """(cohort_day, offset_days, n_users): ``user_id``s first active on
    cohort_day who were also active cohort_day+offset. offset 0 row =
    cohort size. Day bucket is the A2 integer day (epoch div 86400)."""
    day = (F.unix_timestamp(F.col("ts")) / SECONDS_PER_DAY).cast("long")
    active = df.select(F.col("user_id").alias("_k"), day.alias("_day")).distinct()
    w = Window.partitionBy("_k")
    # min over the window reuses the distinct's hash partitioning on _k
    cohort = active.withColumn("_cohort", F.min("_day").over(w))
    return (
        cohort.groupBy(
            F.col("_cohort").alias("cohort_day"),
            (F.col("_day") - F.col("_cohort")).alias("offset_days"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


# windowed_anomalies: trailing window length, flag threshold in σ, and
# the prior values a row needs before it is scored
LOOKBACK = 8
K_SIGMA = 3
MIN_HISTORY = 4


def windowed_anomalies(df: DataFrame) -> DataFrame:
    """Append ``is_anomaly``: ``value`` > ``K_SIGMA``·σ from the mean
    of that ``user_id``'s trailing ``LOOKBACK`` values in
    ``(ts, event_id)`` order (strictly prior rows — the live-score
    frame). All integer algebra on ×1000 fixed-point values:

        z² > k²  ⇔  (n·x − S)² > k²·(n·Q − S²)

    with S, Q the window sum and sum-of-squares — exact in BIGINT, no
    float variance (population σ; zero-variance history → any deviation
    flags). Rows with < ``MIN_HISTORY`` prior values get NULL."""
    v = F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
    base = df.withColumn("_v", v)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-LOOKBACK, -1)
    )
    n = F.count("_v").over(w)
    s = F.sum("_v").over(w)
    q = F.sum(F.col("_v") * F.col("_v")).over(w)
    dev = n * F.col("_v") - s
    var_n2 = n * q - s * s  # n² · population variance
    flag = F.when(
        (n < MIN_HISTORY) | F.col("_v").isNull(), F.lit(None).cast("boolean")
    ).otherwise(
        F.when(var_n2 == 0, dev != 0).otherwise(
            dev * dev > F.lit(K_SIGMA * K_SIGMA) * var_n2
        )
    )
    return base.withColumn("is_anomaly", flag).drop("_v")


def anomaly_daily_counts(df: DataFrame) -> DataFrame:
    """(day_bucket, n_checked, n_anomalies) roll-up of the flag."""
    flagged = windowed_anomalies(df)
    day = (F.unix_timestamp(F.col("ts")) / SECONDS_PER_DAY).cast("long")
    return (
        flagged.withColumn("_day", day)
        .groupBy(F.col("_day").alias("day_bucket"))
        .agg(
            F.count("is_anomaly").cast("long").alias("n_checked"),
            # NULL flag (insufficient history) counts 0, like the SQL
            # CASE WHEN flag THEN 1 ELSE 0 form — never a NULL sum
            F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
        )
    )


def interarrival_bins(df: DataFrame) -> DataFrame:
    """Global distribution of per-``user_id`` inter-event gaps in
    ``(ts, event_id)`` order, log2-binned in
    MICROSECONDS: (gap_bin, n, sum_gap_us). The poll-rate/think-time
    profile that sizes sessionization gaps and cache TTLs. One window
    shuffle (lag over the key), then a map-side-combined ≤ ~46-bin
    aggregate; µs integers end-to-end (unix_micros ↔ epoch_us) so the
    DuckDB oracle agrees exactly. First event per key has no gap and
    is excluded."""
    from .aggregate import log2_bin

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        df.select(gap.alias("_gap"))
        .filter(F.col("_gap").isNotNull())
        .groupBy(log2_bin(F.col("_gap")).alias("gap_bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_gap").cast("long").alias("sum_gap_us"),
        )
    )
