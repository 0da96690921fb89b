"""operators/bloom.py — relational Bloom filter.

Correctness contract: NO false negatives ever (an exact check behind
the filter depends on it); false positives only cost extra exact
checks. Scale contract: probing never shuffles the probed side.
"""

import pyspark.sql.functions as F

from s3_log_parser_spark.operators.bloom import bloom_build, bloom_probe

M = 1 << 14
K = 5


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def test_no_false_negatives(spark):
    bm = bloom_build(_keys(spark, 0, 400), "k", M, K)
    out = bloom_probe(_keys(spark, 0, 400), bm, "k", M, K)
    assert out.filter(~F.col("bloom_maybe")).count() == 0


def test_false_positive_rate_sane(spark):
    # 400 keys in 2^14 bits, k=5 → theoretical fp ~2e-5; allow 1%
    bm = bloom_build(_keys(spark, 0, 400), "k", M, K)
    out = bloom_probe(_keys(spark, 1000, 3000), bm, "k", M, K)
    assert out.filter(F.col("bloom_maybe")).count() <= 20


def test_probe_keeps_all_rows_and_columns(spark):
    df = _keys(spark, 0, 50).withColumn("payload", F.col("k"))
    bm = bloom_build(_keys(spark, 0, 10), "k", M, K)
    out = bloom_probe(df, bm, "k", M, K)
    assert out.columns == ["k", "payload", "bloom_maybe"]
    assert out.count() == 50


def test_probe_plan_never_shuffles_probed_side(spark):
    bm = bloom_build(_keys(spark, 0, 100), "k", M, K)
    out = bloom_probe(_keys(spark, 0, 1000), bm, "k", M, K)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
