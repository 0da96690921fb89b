"""Funnel / retention / anomaly semantics on hand-built frames."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.behavior import (
    anomaly_daily_counts,
    funnel_conversion,
    funnel_steps,
    retention_cohorts,
    windowed_anomalies,
)

SCHEMA = "user_id long, event_type string, ts timestamp, event_id long"


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, t, _ts(m), i) for i, (u, t, m) in enumerate(rows)], SCHEMA
    )


STEPS = ["signup", "view", "click", "purchase"]


def test_funnel_ordered_subsequence_semantics(spark):
    ev = _events(
        spark,
        [
            # u1: full ordered funnel with noise + repeats
            (1, "signup", 0), (1, "view", 1), (1, "view", 2),
            (1, "error", 3), (1, "click", 4), (1, "purchase", 5),
            # u2: purchase BEFORE the funnel prefix completes — the
            # early purchase must not count
            (2, "purchase", 0), (2, "signup", 1), (2, "view", 2),
            # u3: steps out of order: click first, never re-clicked
            (3, "click", 0), (3, "signup", 1), (3, "view", 2),
            (3, "purchase", 3),
            # u4: only noise events → excluded entirely
            (4, "error", 0),
            # u5: view without signup → stuck at 0
            (5, "view", 0), (5, "click", 1),
        ],
    )
    got = {
        r.user_id: r.furthest_step
        for r in funnel_steps(ev, STEPS).collect()
    }
    assert got == {1: 4, 2: 2, 3: 2, 5: 0}


def test_funnel_conversion_cumulative(spark):
    ev = _events(
        spark,
        [
            (1, "signup", 0), (1, "view", 1), (1, "click", 2),
            (1, "purchase", 3),
            (2, "signup", 0), (2, "view", 1),
            (3, "signup", 0),
        ],
    )
    rows = {
        r.furthest_step: (r.n_users, r.n_reached)
        for r in funnel_conversion(ev, STEPS).collect()
    }
    assert rows == {4: (1, 1), 2: (1, 2), 1: (1, 3)}


def test_funnel_ties_within_same_timestamp_break_by_event_id(spark):
    # same ts: event_id order decides — signup(id=0) precedes view(id=1)
    ev = spark.createDataFrame(
        [(1, "signup", _ts(0), 0), (1, "view", _ts(0), 1)], SCHEMA
    )
    assert funnel_steps(ev, STEPS).collect()[0].furthest_step == 2
    rev = spark.createDataFrame(
        [(1, "signup", _ts(0), 1), (1, "view", _ts(0), 0)], SCHEMA
    )
    assert funnel_steps(rev, STEPS).collect()[0].furthest_step == 1


def test_funnel_skew_guard_raises(spark, monkeypatch):
    from s3_log_parser_spark.operators import behavior

    ev = _events(spark, [(1, "signup", i % 60) for i in range(30)])
    monkeypatch.setattr(behavior, "MAX_EVENTS_PER_KEY", 10)
    with pytest.raises(Exception, match="MAX_EVENTS_PER_KEY"):
        funnel_steps(ev, STEPS).collect()


def test_funnel_rejects_bad_steps():
    with pytest.raises(ValueError):
        funnel_steps(None, [])
    with pytest.raises(ValueError):
        funnel_steps(None, ["a", "a"])


def test_retention_cohorts_hand_checked(spark):
    day = 86400
    ev = spark.createDataFrame(
        [
            # u1 first active day0, returns day1 and day2 (twice)
            (1, "view", dt.datetime.fromtimestamp(5, dt.UTC), 0),
            (1, "view", dt.datetime.fromtimestamp(day + 5, dt.UTC), 1),
            (1, "view", dt.datetime.fromtimestamp(2 * day + 5, dt.UTC), 2),
            (1, "view", dt.datetime.fromtimestamp(2 * day + 9, dt.UTC), 3),
            # u2 first active day0 only
            (2, "view", dt.datetime.fromtimestamp(7, dt.UTC), 4),
            # u3 first active day1, returns day2
            (3, "view", dt.datetime.fromtimestamp(day + 1, dt.UTC), 5),
            (3, "view", dt.datetime.fromtimestamp(2 * day + 1, dt.UTC), 6),
        ],
        SCHEMA,
    )
    got = {
        (r.cohort_day, r.offset_days): r.n_users
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        (0, 0): 2, (0, 1): 1, (0, 2): 1,
        (1, 0): 1, (1, 1): 1,
    }


def test_windowed_anomaly_flags_spike_only(spark):
    # steady 10.0s then a 100.0 spike, then steady again
    vals = [10.0, 10.1, 9.9, 10.0, 100.0, 10.0]
    ev = spark.createDataFrame(
        [(1, "m", _ts(i), i, v) for i, v in enumerate(vals)],
        SCHEMA + ", value double",
    )
    rows = windowed_anomalies(ev).orderBy("event_id").collect()
    flags = [r.is_anomaly for r in rows]
    # first 4 rows lack history → NULL; the spike flags; the return to
    # baseline is ALSO a 3σ deviation from the spike-inflated window
    assert flags[:4] == [None] * 4
    assert flags[4] is True


def test_windowed_anomaly_zero_variance_history(spark):
    vals = [5.0, 5.0, 5.0, 5.0, 5.0, 6.0]
    ev = spark.createDataFrame(
        [(1, "m", _ts(i), i, v) for i, v in enumerate(vals)],
        SCHEMA + ", value double",
    )
    rows = windowed_anomalies(ev).orderBy("event_id").collect()
    assert rows[4].is_anomaly is False  # 5.0 after four 5.0s
    assert rows[5].is_anomaly is True  # ANY deviation from zero variance


def test_anomaly_daily_counts_shape(spark):
    vals = [10.0, 10.0, 10.0, 10.0, 50.0]
    ev = spark.createDataFrame(
        [(1, "m", _ts(i), i, v) for i, v in enumerate(vals)],
        SCHEMA + ", value double",
    )
    row = anomaly_daily_counts(ev).collect()[0]
    assert (row.n_checked, row.n_anomalies) == (1, 1)
