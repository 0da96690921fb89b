"""E2 DJB2 kernel parity — the Catalyst and numpy forms agree with the
byte-exact pure-Python oracle (reference semantics
src/s3parser.c:461-477)."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.functions.hashes import (
    djb2_expr,
    djb2_py,
    first_path_segment,
)
from s3_log_parser_spark.schemas import DJB2_SEED, TOOL_NAMES

# golden values computed from the reference algorithm
GOLDEN = {
    "": DJB2_SEED,
    "a": DJB2_SEED * 33 + ord("a"),
    "tech-talk": 2873512322,
}


def test_djb2_py_golden():
    for s, want in GOLDEN.items():
        assert djb2_py(s) == want
    assert djb2_py(None) == DJB2_SEED
    # uint32 wraparound on long input
    assert djb2_py("x" * 100) < 2**32


def test_djb2_spark_forms_match_python(spark):
    vals = TOOL_NAMES + ["", "203.0.113.7", "/show/ep.mp3", "x" * 50]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select("s", djb2_expr(F.col("s")).alias("expr")).collect()
    for r in rows:
        assert r["expr"] == djb2_py(r["s"]), f"expr mismatch for {r['s']!r}"


def test_djb2_null_is_seed(spark):
    df = spark.createDataFrame([(None,)], "s string")
    r = df.select(djb2_expr(F.col("s")).alias("expr")).collect()[0]
    assert r["expr"] == DJB2_SEED


def test_extract_path_semantics(spark):
    # mirrors extract_path (src/s3parser.c:420-451): strip leading /,
    # take until next /, hash; NULL/'' → 5381 — the tool_hash form
    # the Catalyst reference parse computes
    cases = [
        ("/tech-talk/episode-1.mp3", djb2_py("tech-talk")),
        ("tech-talk/episode-1.mp3", djb2_py("tech-talk")),
        ("/solo", djb2_py("solo")),
        ("", DJB2_SEED),
        (None, DJB2_SEED),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "key string")
    got = [
        r[0]
        for r in df.select(djb2_expr(first_path_segment("key"))).collect()
    ]
    assert got == [c[1] for c in cases]


def test_first_path_segment(spark):
    df = spark.createDataFrame(
        [("/a/b.mp3",), ("a/b",), ("/x",)], "k string"
    )
    got = [r[0] for r in df.select(first_path_segment("k")).collect()]
    assert got == ["a", "a", "x"]


def test_djb2_numpy_parity():
    """the vectorized Arrow-buffer kernel must be byte-exact with the
    pure-Python oracle — incl. unicode, NULL, empty, long strings,
    sliced arrays (non-zero offset) and large_string offsets."""
    import pyarrow as pa

    from s3_log_parser_spark.functions.hashes import djb2_numpy

    vals = [
        "", "a", "tech-talk", "héllo wörld ünïcode", None,
        "x" * 5000, "conv-12345", "/show/ep.mp3",
    ]
    want = [djb2_py(v) for v in vals]
    assert list(djb2_numpy(pa.array(vals, pa.string()))) == want
    assert list(djb2_numpy(pa.array(vals, pa.large_string()))) == want
    sl = pa.array(vals, pa.string()).slice(2, 4)
    assert list(djb2_numpy(sl)) == want[2:6]
    assert list(djb2_numpy(pa.array([], pa.string()))) == []


@pytest.mark.parametrize(
    "entry",
    ["cms_sketch", "cms_lookup", "hll_sketch", "shuffle_key",
     "with_shingles", "build_dedup_index"],
)
def test_unknown_hash_family_raises_before_any_job(spark, entry):
    """A hash family other than ``djb2`` / ``xxhash64`` (here a
    misspelt ``xxHash64``) raises ``ValueError`` on the driver, and no
    job runs: no entry point falls through to the other family."""
    from s3_log_parser_spark.functions.shingles_arrow import with_shingles
    from s3_log_parser_spark.operators.dedup import build_dedup_index
    from s3_log_parser_spark.operators.sampling import shuffle_key
    from s3_log_parser_spark.operators.sketch import (
        cms_lookup,
        cms_sketch,
        hll_sketch,
    )

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    mode = "xxHash64"
    calls = {
        "cms_sketch": lambda: cms_sketch(df, "text", mode=mode),
        "cms_lookup": lambda: cms_lookup(df, df, "text", mode=mode),
        "hll_sketch": lambda: hll_sketch(df, "text", mode=mode),
        "shuffle_key": lambda: df.select(shuffle_key("doc_id", mode=mode)),
        "with_shingles": lambda: with_shingles(df, "text", mode=mode),
        "build_dedup_index": lambda: build_dedup_index(df, mode=mode),
    }
    sc = spark.sparkContext
    group = f"unknown-hash-mode-{entry}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=mode):
            calls[entry]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
