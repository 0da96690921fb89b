"""as-of join: backward-inclusive temporal match semantics."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.temporal import asof_join


@pytest.fixture(scope="module")
def frames(spark):
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:10", 100),
            (1, "2024-01-01 00:01:00", 101),
            (2, "2024-01-01 00:05:00", 200),
        ],
        "user_id long, ts string, state_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    left = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 00:00:05"),   # before any state → NULL
            (11, 1, "2024-01-01 00:00:10"),   # equal ts → inclusive match 100
            (12, 1, "2024-01-01 00:00:30"),   # between → 100
            (13, 1, "2024-01-01 00:02:00"),   # after second → 101
            (14, 2, "2024-01-01 00:06:00"),   # other key → 200
            (15, 3, "2024-01-01 00:06:00"),   # key with no states → NULL
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return left, right


def test_asof_backward_inclusive_semantics(spark, frames):
    left, right = frames
    out = asof_join(left, right, on="ts", by=("user_id",),
                    right_cols=("state_id",))
    got = {r["event_id"]: r["state_id"] for r in out.collect()}
    assert got == {10: None, 11: 100, 12: 100, 13: 101, 14: 200, 15: None}
    # every left row survives exactly once (left-join cardinality)
    assert out.count() == left.count()
    # left columns pass through untouched
    assert set(out.columns) == {"event_id", "user_id", "ts", "state_id"}


def test_asof_single_window_shuffle(spark, frames):
    """the plan must contain exactly ONE exchange (the by-key window
    partitioning) and no join node at all — the property that makes
    the rewrite linear instead of a per-key cross product."""
    left, right = frames
    out = asof_join(left, right, on="ts", by=("user_id",),
                    right_cols=("state_id",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_range_join_containment_semantics(spark):
    from s3_log_parser_spark.operators.temporal import range_join

    iv = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
            (1, 101, "2024-01-01 00:30:00", "2024-01-01 02:00:00"),  # overlaps 100
            (2, 200, "2024-01-01 00:00:00", "2024-01-01 00:10:00"),
            (2, 201, "2024-01-01 05:00:00", "2024-01-01 04:00:00"),  # empty, dropped
        ],
        "user_id long, win_id long, start_ts string, end_ts string",
    ).select(
        "user_id", "win_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    ev = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 00:00:00"),  # start inclusive → 100
            (11, 1, "2024-01-01 00:45:00"),  # inside both → 100 AND 101
            (12, 1, "2024-01-01 01:00:00"),  # end of 100 EXCLUSIVE → only 101
            (13, 2, "2024-01-01 00:10:00"),  # end exclusive → no match
            (14, 3, "2024-01-01 00:05:00"),  # other key → no match
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # bucket much smaller than the intervals → exercises multi-bucket
    # explode and cross-bucket matches
    out = range_join(ev, iv, bucket_seconds=300)
    got = sorted((r["event_id"], r["win_id"]) for r in out.collect())
    assert got == [(10, 100), (11, 100), (11, 101), (12, 101)]
    # bucket larger than every interval → same answer
    out2 = range_join(ev, iv, bucket_seconds=86400)
    assert sorted((r["event_id"], r["win_id"]) for r in out2.collect()) == got


def test_range_join_explode_guard(spark, monkeypatch):
    from s3_log_parser_spark.operators import temporal
    from s3_log_parser_spark.operators.temporal import range_join

    iv = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", "2024-03-01 00:00:00")],
        "user_id long, win_id long, start_ts string, end_ts string",
    ).select(
        "user_id", "win_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    ev = spark.createDataFrame(
        [(1, 1, "2024-01-02 00:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="spans .* buckets"):
        range_join(ev, iv, bucket_seconds=60)
    # the guard reads MAX_BUCKETS_PER_INTERVAL: 60 day buckets pass the
    # default 1,000 and fail a limit of 50
    assert range_join(ev, iv, bucket_seconds=86400).count() == 1
    monkeypatch.setattr(temporal, "MAX_BUCKETS_PER_INTERVAL", 50)
    with pytest.raises(ValueError, match="spans 60 buckets"):
        range_join(ev, iv, bucket_seconds=86400)


# --------------------------------------------------------------------
# time_rollup: hypertable-style multi-resolution continuous aggregate
# --------------------------------------------------------------------


def test_time_rollup_hierarchy(spark):
    from s3_log_parser_spark.operators.aggregate import time_rollup

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:10", 1.25),
            ("a", "2024-01-01 00:00:40", 2.00),   # same minute as above
            ("a", "2024-01-01 00:59:59", 0.50),   # same hour, new minute
            ("a", "2024-01-01 23:00:00", 4.00),   # same day, new hour
            ("b", "2024-01-02 00:00:00", 10.00),  # new key, new day
        ],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = time_rollup(df).collect()
    by = {(r.resolution, r.event_type, r.bucket_start): r for r in out}
    # minute tier: first two rows collapse into one bucket
    m = by[("minute", "a", "2024-01-01 00:00:00")]
    assert (m.n_events, m.sum_value_x100) == (2, 325)
    # hour tier derives from minute: 3 events in hour 00
    h = by[("hour", "a", "2024-01-01 00:00:00")]
    assert (h.n_events, h.sum_value_x100) == (3, 375)
    # day tier: all 4 'a' events on day 1
    d = by[("day", "a", "2024-01-01 00:00:00")]
    assert (d.n_events, d.sum_value_x100) == (4, 775)
    # every tier conserves the total event count and value sum
    for res in ("minute", "hour", "day"):
        rows = [r for r in out if r.resolution == res]
        assert sum(r.n_events for r in rows) == 5
        assert sum(r.sum_value_x100 for r in rows) == 1775


def test_time_rollup_single_raw_scan(spark):
    # the coarse tiers must aggregate the minute-tier base, not re-scan
    # raw input: exactly ONE scan of the raw rows in the whole plan
    # (r7 shape: base → explode into (resolution, bucket) → one hash
    # re-aggregate; no cache, no union of re-aggregations)
    from s3_log_parser_spark.operators.aggregate import time_rollup

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:10", 1.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = time_rollup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1
    # and the tier fan-out happens on the aggregate-sized base
    assert "Generate explode" in plan


def test_time_rollup_merge_equals_full_recompute(spark):
    """The continuous-aggregate refresh law: rollup(on_time) merged
    with rollup(late) == rollup(all), exactly (additive counts +
    integer sums)."""
    import datetime

    from pyspark.sql import functions as F

    from s3_log_parser_spark.operators.aggregate import (
        time_rollup,
        time_rollup_merge,
    )

    t0 = datetime.datetime(2025, 3, 1, 10, 0, 0)
    rows = [
        (
            t0 + datetime.timedelta(seconds=37 * i),
            "click" if i % 3 else "view",
            0.5 + (i % 7),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).withColumn("i", F.monotonically_increasing_id())
    on_time = df.filter(F.col("i") % 5 != 0).drop("i")
    late = df.filter(F.col("i") % 5 == 0).drop("i")

    merged = time_rollup_merge(time_rollup(on_time), time_rollup(late))
    full = time_rollup(df.drop("i"))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_time_rollup_merge_rejects_schema_mismatch(spark):
    import pytest

    from s3_log_parser_spark.operators.aggregate import time_rollup_merge

    a = spark.createDataFrame(
        [("minute", "x", "2025-01-01 00:00:00", 1)],
        "resolution string, event_type string, bucket_start string, "
        "n_events long",
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        time_rollup_merge(a, a.withColumnRenamed("n_events", "n"))


def test_time_rollup_rejects_misordered_resolutions():
    """ADVICE r5: coarse tiers derive from the first resolution, so a
    ('day', 'hour') order would emit an 'hour' tier aggregated from day
    buckets — right labels, wrong values. The fixed tiers must run
    strictly finest to coarsest."""
    from s3_log_parser_spark.operators.aggregate import ROLLUP_RESOLUTIONS

    units = ("minute", "hour", "day", "week", "month")
    ranks = [units.index(r) for r in ROLLUP_RESOLUTIONS]
    assert ranks == sorted(set(ranks))
