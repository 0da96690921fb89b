"""Pivot / cube / histogram / inter-arrival semantics."""

import datetime as dt

from pyspark.sql import functions as F

from s3_log_parser_spark.operators.aggregate import (
    cube_counts,
    log2_bin,
    pivot_counts,
    value_histogram,
)
from s3_log_parser_spark.operators.behavior import interarrival_bins


def test_pivot_counts_explicit_values_and_zero_fill(spark):
    df = spark.createDataFrame(
        [(0, "a"), (0, "a"), (0, "b"), (1, "b")], "d long, t string"
    )
    got = {
        r.d: (r.a, r.b, r.c)
        for r in pivot_counts(df, "d", "t", ["a", "b", "c"],
                              row_key_name="d").collect()
    }
    # unseen value 'c' and day-1's 'a' are 0, not NULL
    assert got == {0: (2, 1, 0), 1: (0, 1, 0)}


def test_cube_counts_margins_sum_consistently(spark):
    df = spark.createDataFrame(
        [("a", 0, 10), ("a", 1, 20), ("b", 0, 30)], "t string, w long, v long"
    )
    rows = cube_counts(df, ["t", "w"], F.col("v")).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.grouping_id, []).append(r)
    # 4 grouping sets: cells(0), w-margin... gid bits: 1=w grouped out,
    # 2=t grouped out, 3=grand total
    assert sorted(by_gid) == [0, 1, 2, 3]
    grand = by_gid[3][0]
    assert (grand.n, grand.sum_measure) == (3, 60)
    assert sum(r.n for r in by_gid[0]) == 3
    assert sum(r.sum_measure for r in by_gid[1]) == 60
    assert sum(r.sum_measure for r in by_gid[2]) == 60


def test_log2_bin_exact_at_boundaries(spark):
    df = spark.createDataFrame([(v,) for v in [0, 1, 2, 3, 4, 7, 8, 1 << 40]],
                               "v long")
    got = [r.b for r in df.select(log2_bin(F.col("v")).alias("b"))
           .orderBy("v").collect()]
    assert got == [0, 1, 2, 2, 3, 3, 4, 41]


def test_value_histogram_counts_and_sums(spark):
    df = spark.createDataFrame(
        [("x", 0.001), ("x", 0.002), ("x", 0.004), ("y", 1.0)],
        "k string, value double",
    )
    got = {
        (r.k, r.bin): (r.n, r.sum_v)
        for r in value_histogram(df, keys=("k",)).collect()
    }
    # ×1000 fixed point: 1,2,4 → bins 1,2,3; 1000 → bin 10
    assert got == {
        ("x", 1): (1, 1), ("x", 2): (1, 2), ("x", 3): (1, 4),
        ("y", 10): (1, 1000),
    }


def test_interarrival_bins_microsecond_gaps(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 0),
        (1, t0 + dt.timedelta(microseconds=3), 1),   # gap 3 → bin 2
        (1, t0 + dt.timedelta(microseconds=7), 2),   # gap 4 → bin 3
        (2, t0, 3),                                   # first event: no gap
        (2, t0 + dt.timedelta(seconds=1), 4),         # 1e6 µs → bin 20
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {r.gap_bin: (r.n, r.sum_gap_us) for r in interarrival_bins(df).collect()}
    assert got == {2: (1, 3), 3: (1, 4), 20: (1, 1_000_000)}


def test_value_histogram_rejects_negatives(spark):
    """ADVICE r5: log2 bins are defined on magnitudes and
    histogram_quantiles reports bin 0 as [0,0]; a negative value must
    raise instead of folding into bin 0."""
    import pytest as _pytest
    from pyspark.sql.utils import CapturedException

    df = spark.createDataFrame(
        [(1.0,), (-2.0,), (None,)], "value double"
    )
    with _pytest.raises(CapturedException, match="negative"):
        value_histogram(df).collect()
