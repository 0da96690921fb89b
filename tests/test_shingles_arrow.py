"""Parity pins for the vectorized Arrow shingle and SimHash kernels:
the djb2 shingle kernel must reproduce the pure-Python shingle fold
BIT-FOR-BIT (values and first-occurrence order), the xxhash64 kernel a
Catalyst ``F.xxhash64`` chain, and ``simhash_df`` the pure-Python
SimHash, on the fixture corpus and on adversarial edge rows."""

from pyspark.sql import functions as F

from helpers import shingles_py, simhash_py

SF = "/root/testdata/sf0.001"


def _edge(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "one two three"),
            (7, "  a\t b\nc  d "),
            (8, "x x x x x x x x x x"),  # repeated shingles → distinct
            (9, "héllo wörld café naïve test"),  # non-ASCII codepoints
            (10, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )


def test_arrow_kernel_matches_python_reference(spark):
    from s3_log_parser_spark.functions.shingles_arrow import with_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for n in (2, 3, 8):
        for src in (docs, _edge(spark)):
            ref = {
                r["doc_id"]: shingles_py(r["text"], n)
                for r in src.select("doc_id", "text").collect()
            }
            arr = {
                r["doc_id"]: r["sh"]
                for r in with_shingles(
                    src, "text", n, keep=("doc_id",)
                ).collect()
            }
            assert ref == arr, f"n={n}: kernel mismatch"


def test_simhash_arrow_matches_python_reference(spark):
    """``simhash_df`` (the Arrow kernel) reproduces the pure-Python
    SimHash bit-for-bit on every row with at least one token, and has
    no row for the zero-token ones."""
    from s3_log_parser_spark.operators.dedup import simhash_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for src in (docs, _edge(spark)):
        rows = src.select("doc_id", "text").collect()
        for bits in (16, 64):
            arrow = {
                r["id"]: r["simhash"]
                for r in simhash_df(src, bits=bits).collect()
            }
            ref = {
                r["doc_id"]: sh
                for r in rows
                if (sh := simhash_py(r["text"], bits)) is not None
            }
            assert arrow == ref, f"bits={bits}"


def test_shingle_frame_routes_through_arrow_by_default(spark):
    from s3_log_parser_spark.operators.dedup import shingle_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = shingle_frame(docs)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    # map-side only: the kernel adds no exchange
    assert "Exchange" not in plan


def _xxhash64_shingles(col, n):
    """the Catalyst xxhash64 shingle chain: token hash ``X(t)``, a
    window folds ``X(5381, d)`` then ``X(acc, d)``, a row with fewer
    than ``n`` tokens folds over all of them, first-occurrence
    distinct. The windows zip ``n`` index-shifted top-level slices: a
    computed array referenced inside a per-element lambda would be
    re-evaluated once per element."""
    from s3_log_parser_spark.functions.text import tokens

    th = F.transform(tokens(col), lambda t: F.xxhash64(t))
    seed = F.lit(5381).cast("long")
    k = F.greatest(F.size(th) - (n - 1), F.lit(0))
    grams = F.transform(F.slice(th, 1, k), lambda d: F.xxhash64(seed, d))
    for j in range(2, n + 1):
        grams = F.zip_with(
            grams, F.slice(th, j, k), lambda acc, d: F.xxhash64(acc, d)
        )
    whole = F.aggregate(th, seed, lambda acc, d: F.xxhash64(acc, d))
    return F.array_distinct(
        F.when(F.size(th) >= n, grams).otherwise(F.array(whole))
    )


def test_xxhash64_kernel_matches_catalyst(spark):
    """the xxhash64 kernel mode must be bit-exact vs the Catalyst
    xxhash64 chain — including unicode tokens, >32-byte tokens (the
    XXH64 block path), short rows and NULL/empty text."""
    from s3_log_parser_spark.functions.shingles_arrow import with_shingles

    rows = [
        (0, "aa bb cc dd ee"),
        (1, "one two"),
        (2, ""),
        (3, None),
        (4, "solo"),
        (5, "héllo wörld ünïcode tökens"),
        (6, "x " * 50),
        (7, "a-very-long-token-exceeding-thirty-two-bytes-for-the-"
            "block-path mid tail end more"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (3, 8):
        a = {
            r["doc_id"]: r["sh"]
            for r in with_shingles(
                df, "text", n, keep=("doc_id",), mode="xxhash64"
            ).collect()
        }
        b = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", _xxhash64_shingles("text", n).alias("sh")
            ).collect()
        }
        assert a == b


def test_xxhash64_primitives_match_spark(spark):
    """the numpy/python XXH64 primitives must match F.xxhash64 exactly
    (string bytes with seed 42; long chaining h = X(le64(v), h))."""
    import numpy as np
    from pyspark.sql import functions as F

    from s3_log_parser_spark.functions.shingles_arrow import (
        _xxh64_bytes,
        _xxh64_long_py,
        _xxh64_long_vec,
    )

    r = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit("hello")).alias("s"),
            F.xxhash64(F.lit(123).cast("long")).alias("l"),
            F.xxhash64(
                F.lit(5381).cast("long"), F.lit(99).cast("long")
            ).alias("two"),
        )
        .collect()[0]
    )

    def s64(u):
        u = int(u)
        return u - (1 << 64) if u >= (1 << 63) else u

    assert s64(_xxh64_bytes(b"hello")) == r["s"]
    assert s64(_xxh64_long_py(123, 42)) == r["l"]
    assert s64(_xxh64_long_py(99, _xxh64_long_py(5381, 42))) == r["two"]
    v = _xxh64_long_vec(np.array([123], dtype=np.uint64), np.uint64(42))
    assert s64(int(v[0])) == r["l"]
