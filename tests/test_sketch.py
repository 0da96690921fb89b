"""Mergeable sketch laws: HLL register parity + merge algebra, CMS
never-undercount + linearity."""

import math

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.functions.hashes import djb2_py
from s3_log_parser_spark.operators.sampling import (
    SHUFFLE_SQ_P,
    SPLIT_MIX_A,
    SPLIT_MIX_B,
    SPLIT_MIX_P,
)
from s3_log_parser_spark.operators.sketch import (
    HLL_BITS,
    HLL_P,
    cms_lookup,
    cms_merge,
    cms_sketch,
    hll_estimate,
    hll_merge,
    hll_sketch,
)


def hll_hash_py(key: str) -> int:
    """Pure-python twin of the djb2-mode ``sketch._hash31``."""
    b = (djb2_py(key) * SPLIT_MIX_A + SPLIT_MIX_B) % SPLIT_MIX_P
    m = b % SHUFFLE_SQ_P
    return (m * m) % SHUFFLE_SQ_P


def hll_estimate_py(ranks: dict[int, int], correction: bool = True) -> float:
    """Pure-python reference estimator of ``hll_estimate`` (both
    branches)."""
    m = 1 << HLL_P
    R = HLL_BITS - HLL_P + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    z_int = sum(1 << (R - r) for r in ranks.values())
    z_int += (m - len(ranks)) * (1 << R)
    raw = alpha * m * m * float(1 << R) / float(z_int)
    v_empty = m - len(ranks)
    if correction and raw <= 2.5 * m and v_empty > 0:
        return m * math.log(m / v_empty)
    return raw


@pytest.fixture(scope="module")
def keys(spark):
    # 5000 distinct string keys, some repeated (dupes must not move
    # any register — HLL counts distinct, not rows)
    return spark.range(8000).select(
        F.concat(F.lit("key-"), (F.col("id") % 5000).cast("string")).alias("k")
    )


def _ranks(sketch_df):
    return {r.bucket: r.r for r in sketch_df.collect()}


def test_hll_registers_match_python_reference(spark, keys):
    got = _ranks(hll_sketch(keys, "k"))
    want: dict[int, int] = {}
    for i in range(5000):
        h = hll_hash_py(f"key-{i}")
        b, w = h % 512, h >> 9
        r = 23 if w == 0 else 23 - w.bit_length()
        want[b] = max(want.get(b, 0), r)
    assert got == want


def test_hll_merge_equals_full_and_is_idempotent(spark, keys):
    full = hll_sketch(keys, "k")
    h1 = hll_sketch(keys.filter(F.crc32("k") % 2 == 0), "k")
    h2 = hll_sketch(keys.filter(F.crc32("k") % 2 == 1), "k")
    merged = hll_merge(h1, h2)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    # idempotent: re-merging an already-merged day is a no-op
    again = hll_merge(merged, h1)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_hll_estimate_accuracy_and_python_parity(spark, keys):
    sk = hll_sketch(keys, "k")
    row = hll_estimate(sk, correction=False).collect()[0]
    # standard error 1.04/sqrt(512) ≈ 4.6%; 3σ bound
    assert abs(row.est_x1000 / 1000 - 5000) < 5000 * 0.15
    ref = hll_estimate_py(_ranks(sk), correction=False)
    assert row.est_x1000 == int(ref * 1000 // 1)


def test_hll_small_range_correction_branch(spark):
    # 40 distinct << 2.5·512 → linear counting branch engages
    tiny = spark.range(40).select(F.concat(F.lit("t"), "id").alias("k"))
    sk = hll_sketch(tiny, "k")
    got = hll_estimate(sk).collect()[0].est_x1000 / 1000
    ref = hll_estimate_py(_ranks(sk))
    # got is floored at ×1000 (and the branch's ln is libm-dependent):
    # agreement to the fixed-point grid is the contract
    assert abs(got - ref) < 1.5e-3
    assert abs(got - 40) < 40 * 0.25  # linear counting is tight here


def test_cms_never_undercounts_any_key(spark):
    df = spark.range(2000).select(
        (F.col("id") % 97).cast("string").alias("k")
    )
    sk = cms_sketch(df, "k", depth=4, width=32)  # heavy collisions
    exact = df.groupBy("k").agg(F.count("*").alias("n"))
    est = cms_lookup(sk, exact.select("k"), "k", depth=4, width=32)
    joined = exact.join(est, "k").collect()
    assert len(joined) == 97
    assert all(r.cms_n >= r.n for r in joined)
    # with a wide grid there are no collisions: estimates are exact
    wide = cms_sketch(df, "k", depth=4, width=4096)
    est_w = cms_lookup(wide, exact.select("k"), "k", depth=4, width=4096)
    assert all(r.cms_n == r.n for r in exact.join(est_w, "k").collect())


def test_cms_merge_is_elementwise_sum(spark):
    df = spark.range(1000).select((F.col("id") % 31).cast("string").alias("k"))
    a, b = df.filter(F.col("id") < 400), df.filter(F.col("id") >= 400)
    merged = cms_merge(
        cms_sketch(a, "k", width=64), cms_sketch(b, "k", width=64)
    )
    full = cms_sketch(df, "k", width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_cms_unseen_key_estimates_zero(spark):
    df = spark.range(100).select(F.concat(F.lit("s"), "id").alias("k"))
    sk = cms_sketch(df, "k", width=4096)
    probe = spark.createDataFrame([("never-seen-xyz",)], "k string")
    # wide grid → the unseen key's buckets are very likely untouched
    got = cms_lookup(sk, probe, "k", width=4096).collect()[0]
    assert got.cms_n == 0


def test_cms_xxhash64_mode_same_laws(spark):
    df = spark.range(500).select((F.col("id") % 13).cast("string").alias("k"))
    sk = cms_sketch(df, "k", width=64, mode="xxhash64")
    exact = df.groupBy("k").agg(F.count("*").alias("n"))
    est = cms_lookup(sk, exact.select("k"), "k", width=64, mode="xxhash64")
    assert all(r.cms_n >= r.n for r in exact.join(est, "k").collect())


def test_hll_xxhash64_mode_counts(spark, keys):
    sk = hll_sketch(keys, "k", mode="xxhash64")
    est = hll_estimate(sk, correction=False).collect()[0]
    assert abs(est.est_x1000 / 1000 - 5000) < 5000 * 0.15


# ---------------------------------------------------------------------------
# histogram_quantiles — sketch-level percentiles from log2 histograms
# ---------------------------------------------------------------------------


def _hq(spark, values, ps=(500, 990)):
    from pyspark.sql import functions as F

    from s3_log_parser_spark.operators.aggregate import (
        histogram_quantiles,
        value_histogram,
    )

    df = spark.createDataFrame([(float(v),) for v in values], "value double")
    h = value_histogram(df, "value")
    return {
        r["p"]: (r["bin"], r["lo"], r["hi"])
        for r in histogram_quantiles(h, ps=ps).collect()
    }


def test_histogram_quantile_bounds_contain_true_percentile(spark):
    import math

    values = [0.001 * (i * i % 977 + 1) for i in range(1, 500)]
    got = _hq(spark, values, ps=(500, 990, 999))
    fixed = sorted(round(v * 1000) for v in values)
    for p, (b, lo, hi) in got.items():
        true_val = fixed[math.ceil(len(fixed) * p / 1000) - 1]
        assert lo <= true_val <= hi, (p, lo, true_val, hi)


def test_histogram_quantiles_exact_tiny_case(spark):
    # fixed-point values 1,2,3,4,8 → bins 1,2,2,3,4; p500 rank 3 → bin 2
    # (cum: 1,3,4,5), p990 rank 5 → bin 4
    got = _hq(spark, [0.001, 0.002, 0.003, 0.004, 0.008])
    assert got[500] == (2, 2, 3)
    assert got[990] == (4, 8, 15)


def test_histogram_quantiles_merge_equals_full(spark):
    from pyspark.sql import functions as F

    from s3_log_parser_spark.operators.aggregate import (
        histogram_quantiles,
        value_histogram,
    )

    vals = [0.001 * ((7 * i) % 301 + 1) for i in range(400)]
    mk = lambda vs: value_histogram(  # noqa: E731
        spark.createDataFrame([(float(v),) for v in vs], "value double"),
        "value",
    )
    # "daily" histograms merge by re-aggregating bins, then quantiles
    # of the merged sketch == quantiles of the full-data sketch
    merged = (
        mk(vals[:150])
        .unionByName(mk(vals[150:]))
        .groupBy("bin")
        .agg(F.sum("n").alias("n"), F.sum("sum_v").alias("sum_v"))
    )
    full = mk(vals)
    a = sorted(map(tuple, histogram_quantiles(merged).collect()))
    b = sorted(map(tuple, histogram_quantiles(full).collect()))
    assert a == b


def test_histogram_quantiles_rejects_bad_ps(spark):
    import pytest
    from s3_log_parser_spark.operators.aggregate import histogram_quantiles

    h = spark.createDataFrame([(1, 1, 1)], "bin int, n long, sum_v long")
    with pytest.raises(ValueError, match="per-mille"):
        histogram_quantiles(h, ps=(0,))
    with pytest.raises(ValueError, match="per-mille"):
        histogram_quantiles(h, ps=(1001,))
