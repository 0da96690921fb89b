"""Dedup suite: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    hamming64,
    jaccard_x1000,
    minhash_candidates,
    minhash_signatures_df,
    ngram_jaccard_pairs,
    simhash_df,
)


def _jaccard_reference(hdf, threshold_x1000):
    """pure-Python exact n-gram Jaccard over a collected shingle frame
    ``(id, sh[, grp])``: ``floor(|A∩B|·1000/|A∪B|)`` for every
    ``a < b`` (within a block when the frame carries ``grp``)."""
    from itertools import combinations

    rows = hdf.collect()
    sets = {r["id"]: set(r["sh"]) for r in rows}
    grp = {r["id"]: r.asDict().get("grp") for r in rows}
    out = {}
    for a, b in combinations(sorted(sets), 2):
        if grp[a] != grp[b]:
            continue
        j = len(sets[a] & sets[b]) * 1000 // len(sets[a] | sets[b])
        if j >= threshold_x1000:
            out[(a, b)] = j
    return out


def _cosine_reference(rows, threshold_x1m):
    """pure-Python fold-left integer cosine for every ``a < b`` pair of
    ``(id, vector)`` rows: NULL vectors, different lengths, NULL
    elements and zero norms never score."""
    import math
    from itertools import combinations

    out = set()
    for (ia, va), (ib, vb) in combinations(sorted(rows, key=lambda r: r[0]), 2):
        if va is None or vb is None or len(va) != len(vb):
            continue
        if any(x is None for x in va) or any(y is None for y in vb):
            continue
        dot = na = nb = 0.0
        for x, y in zip(va, vb):
            dot = dot + x * y
            na = na + x * x
            nb = nb + y * y
        den = math.sqrt(na) * math.sqrt(nb)
        if den == 0:
            continue
        cos = math.floor(dot / den * 1_000_000)
        if cos >= threshold_x1m:
            out.add((ia, ib, cos))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "completely different words entirely here now"),
        (4, "spark catalyst tungsten arrow parquet iceberg"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_deterministic_winner(spark, docs):
    out = exact_dedup(docs, key_cols=("text",), order=("doc_id",))
    kept = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert 0 in kept and 2 not in kept  # lowest doc_id wins
    assert kept[0] == 2
    assert kept[1] == 1


def test_shingles(spark, docs):
    from s3_log_parser_spark.functions.text import _shingles_sql

    toks = "filter(split(trim(coalesce(text, '')), '\\\\s+'), t -> t != '')"
    sh = F.expr(_shingles_sql(toks, 3)).alias("s")
    r = docs.filter("doc_id = 4").select(sh).collect()[0]
    assert r["s"][0] == "spark catalyst tungsten"
    assert r["s"][-1] == "arrow parquet iceberg"
    # short text → whole string as single shingle
    one = spark.createDataFrame([("a b",)], "text string")
    r = one.select(sh).collect()[0]
    assert r["s"] == ["a b"]


def test_jaccard_near_dup_vs_distinct(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=300)
    got = {(r["id_a"], r["id_b"]): r["jaccard_x1000"] for r in pairs.collect()}
    assert (0, 2) in got and got[(0, 2)] == 1000  # identical
    assert (0, 1) in got and 300 <= got[(0, 1)] < 1000  # near-dup
    assert (0, 3) not in got and (3, 4) not in got


def test_minhash_identical_docs_share_signature(spark, docs):
    sig = minhash_signatures_df(docs, k=8)
    rows = {r["id"]: tuple(r[f"mh_{i}"] for i in range(8)) for r in sig.collect()}
    assert rows[0] == rows[2]
    assert rows[0] != rows[3]
    # near-dups share most minhashes (probabilistic but deterministic
    # given fixed hash family + inputs)
    shared = sum(a == b for a, b in zip(rows[0], rows[1]))
    assert shared >= 4


def test_minhash_lsh_finds_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_candidates(docs).collect()}
    assert (0, 2) in pairs
    assert (3, 4) not in pairs


def test_minhash_xxhash_production_mode(spark, docs):
    """the codegen hash family must behave like the parity family on
    exact dups / clearly-distinct docs (only the hash values differ)."""
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(docs, mode="xxhash64").collect()
    }
    assert (0, 2) in pairs
    assert (3, 4) not in pairs


def test_shingle_hash_is_token_digest_fold(spark):
    """pin the hash definition of the Arrow kernel's djb2 family:
    fold(5381, token DJB2 digests) — the contract the DuckDB oracle
    reproduces."""
    from s3_log_parser_spark.functions.hashes import djb2_py
    from s3_log_parser_spark.functions.shingles_arrow import with_shingles

    def fold(toks):
        h = 5381
        for t in toks:
            h = (h * 33 + djb2_py(t)) % (1 << 32)
        return h

    rows = [(0, "a b c d"), (1, "x y"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["sh"]
        for r in with_shingles(df, "text", 3, keep=("doc_id",)).collect()
    }
    assert got[0] == [fold(["a", "b", "c"]), fold(["b", "c", "d"])]
    assert got[1] == [fold(["x", "y"])]
    assert got[2] == [5381] and got[3] == [5381]


def test_simhash_hamming(spark, docs):
    out = simhash_df(docs, bits=64)
    sh = {r["id"]: r["simhash"] for r in out.collect()}
    assert sh[0] == sh[2]
    pairs = spark.createDataFrame(
        [(sh[0], sh[1], sh[3])], "a long, b long, c long"
    ).select(
        hamming64(F.col("a"), F.col("b")).alias("near"),
        hamming64(F.col("a"), F.col("c")).alias("far"),
    ).collect()[0]
    assert pairs["near"] < pairs["far"]


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(df, threshold_x1m=900_000).collect()
    }
    assert got == {(0, 1)}


def test_simhash_pairs_banding(spark, docs):
    """banded candidate generation finds every hamming-≤3 pair that an
    all-pairs scan finds (lossless by pigeonhole for 4 bands)."""
    from itertools import combinations

    from s3_log_parser_spark.operators.dedup import simhash_df, simhash_pairs

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, bits=16, band_bits=4, max_hamming=3).collect()
    }
    sh = {r["id"]: r["simhash"] for r in simhash_df(docs, bits=16).collect()}
    want = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a, b in combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    assert got == want
    assert (0, 2) in got and got[(0, 2)] == 0  # exact dups


def test_embedding_bucketed_recall_vs_bruteforce(spark):
    """planted near-duplicates (cosine ≥ ~0.99 — the regime near-dup
    removal targets): the LSH-bucketed self-join must recover ≥90% of
    the brute-force pairs and introduce NO false positives. (At weakly
    correlated thresholds like cos 0.25, radius-1 sign-LSH recall is
    inherently ~0.45 — that regime belongs to similarity search, not
    dedup, and is covered by the ANN recall pins.)"""
    from s3_log_parser_spark.operators.dedup import (
        embedding_near_dups_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select("vec_id", "embedding").filter("vec_id < 200")
    # deterministic perturbed copy of each row: one coordinate nudged
    planted = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.05))
            .otherwise(x)
            .cast("float"),
        ).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(corpus, threshold_x1m=950_000).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_bucketed(
            corpus, threshold_x1m=950_000, n_planes=4, dim=64
        ).collect()
    }
    assert lsh <= exact, "bucketing must never invent pairs"
    assert len(exact) >= 150, "fixture must produce a non-trivial pair set"
    assert len(lsh) / len(exact) >= 0.9


def test_embedding_bucketed_no_duplicate_pairs(spark):
    from s3_log_parser_spark.operators.dedup import (
        embedding_near_dups_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_near_dups_bucketed(emb, threshold_x1m=200_000)
    assert out.count() == out.select("id_a", "id_b").distinct().count()


def test_jaccard_empty_union_is_zero(spark):
    df = spark.createDataFrame(
        [([], []), ([1, 2], [2, 3])], "a array<long>, b array<long>"
    )
    got = [
        r["j"]
        for r in df.select(
            jaccard_x1000("a", "b", F.size("a"), F.size("b")).alias("j")
        ).collect()
    ]
    # two empty sets: an empty union scores 0, not a division by zero
    assert got == [0, 333]


def test_ngram_jaccard_unblocked_guard(spark, monkeypatch):
    """VERDICT r2 #5: un-blocked all-pairs on a big input must raise,
    not launch an accidental O(N^2) join."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_log_parser_spark.operators import dedup
    from s3_log_parser_spark.operators.dedup import ngram_jaccard_pairs

    big = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta "), F.col("id")).alias("text"),
    )
    with monkeypatch.context() as m:
        m.setattr(dedup, "UNBLOCKED_LIMIT", 100)
        with _pytest.raises(ValueError, match="O\\(N"):
            ngram_jaccard_pairs(big)
    # auto_block path executes and scores exact jaccard on candidates,
    # and every pair it emits is present in the exact all-pairs result
    approx = {
        (r.id_a, r.id_b, r.jaccard_x1000)
        for r in ngram_jaccard_pairs(
            big, auto_block=True, threshold_x1000=100
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.jaccard_x1000)
        for r in ngram_jaccard_pairs(big, threshold_x1000=100).collect()
    }
    assert approx <= exact
    assert approx, "LSH banding should catch the near-identical docs"


def test_ngram_jaccard_index_matches_python_reference(spark, docs):
    """the inverted-index set-similarity join returns exactly the
    pairs and integer jaccard of a pure-Python scan over every a < b
    (on the 5-doc fixture, and blocked by source on 300 sf0.001 docs)."""
    from s3_log_parser_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_frame,
    )

    for thr in (1, 100, 300):
        got = {
            (r.id_a, r.id_b): r.jaccard_x1000
            for r in ngram_jaccard_pairs(docs, threshold_x1000=thr).collect()
        }
        want = _jaccard_reference(shingle_frame(docs), thr)
        assert got == want and got, thr

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter("doc_id < 300")
    got = {
        (r.id_a, r.id_b): r.jaccard_x1000
        for r in ngram_jaccard_pairs(
            corpus, threshold_x1000=10, group_col="source"
        ).collect()
    }
    sh = shingle_frame(corpus).join(
        corpus.select(F.col("doc_id").alias("id"), F.col("source").alias("grp")),
        "id",
    )
    want = _jaccard_reference(sh, 10)
    assert got == want and len(got) > 10


def test_ngram_jaccard_rejects_threshold_below_one(spark, docs):
    """a threshold below 1/1000 would need pairs sharing no shingle,
    which the index join never emits: it raises instead."""
    with pytest.raises(ValueError, match="threshold_x1000"):
        ngram_jaccard_pairs(docs, threshold_x1000=0)


def test_embedding_block_equals_pairs(spark):
    """broadcast-corpus block scoring is bit-identical to a pure-Python
    fold-left cosine over every pair of the 500 sf0.001 embeddings."""
    from s3_log_parser_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {tuple(r) for r in embedding_near_dups(emb, threshold_x1m=200_000).collect()}
    want = _cosine_reference(
        [(r.vec_id, r.embedding) for r in emb.collect()], 200_000
    )
    assert got == want and got


def test_ngram_jaccard_stop_shingle_cap(spark, docs):
    """max_df drops only high-frequency shingles: results are a subset
    with lower-bound scores, and rare-shingle pairs are unaffected."""
    from s3_log_parser_spark.operators.dedup import (
        _jaccard_index_join,
        ngram_jaccard_pairs,
        shingle_frame,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard_x1000
        for r in ngram_jaccard_pairs(docs, threshold_x1000=100).collect()
    }

    def capped_at(max_df):
        return {
            (r.id_a, r.id_b): r.jaccard_x1000
            for r in _jaccard_index_join(
                shingle_frame(docs), False, 100, max_df=max_df
            ).collect()
        }

    capped = capped_at(3)
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair], "capped jaccard must be a lower bound"
    # a huge cap changes nothing
    assert capped_at(10**6) == exact


def test_simhash_64bit_banding_lossless(spark):
    """pigeonhole losslessness holds at 64 bits / 16-bit bands too:
    banded candidates == brute-force all-pairs for hamming <= 3."""
    from pyspark.sql import functions as F

    from s3_log_parser_spark.operators.dedup import (
        hamming64,
        simhash_df,
        simhash_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(docs, bits=64, band_bits=16).collect()
    }
    s = simhash_df(docs, "doc_id", "text", bits=64)
    a, b = s.alias("a"), s.alias("b")
    brute = {
        tuple(r)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_embedding_near_dups_null_and_ragged_vectors(spark):
    """ADVICE r3 #2/#3: a NULL or odd-length embedding must not fail the
    job, and block scoring must match the Python fold-left cosine on
    such corpora (NULL/cross-length pairs are dropped, same-length
    pairs still score)."""
    from s3_log_parser_spark.operators.dedup import embedding_near_dups

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, None),                       # NULL vector
        (4, [1.0, 0.0]),                 # ragged (different length)
        (5, [0.95, 0.05]),               # ragged partner of 4
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = {
        tuple(r)
        for r in embedding_near_dups(emb, threshold_x1m=800_000).collect()
    }
    assert p == _cosine_reference(rows, 800_000)
    ids = {(a, bb) for a, bb, _ in p}
    assert (1, 2) in ids and (4, 5) in ids  # same-length pairs survive
    assert all(3 not in pair for pair in ids)
    assert not any((a, bb) == (1, 4) or (a, bb) == (2, 4) for a, bb in ids)


def test_cosine_topk_null_embedding_survives(spark):
    """a NULL embedding row must not fail cosine_topk (the shared
    pairwise-cosine UDF propagates NULL instead of raising)."""
    from s3_log_parser_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, None),
        (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_topk(emb, emb.filter("vec_id = 1"), k=2).collect()
    assert [r.c_id for r in got] == [2, 4]  # NULL row never ranks


def test_embedding_near_dups_auto_raises_past_guard(spark, monkeypatch):
    """VERDICT r3 #2: past BLOCK_LIMIT rows embedding_near_dups must
    raise with a pointer to the bucketed scale path, never silently
    launch O(N²)."""
    from s3_log_parser_spark.operators import dedup

    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(7), F.rand(11)).alias("embedding"),
    )
    monkeypatch.setattr(dedup, "BLOCK_LIMIT", 5)
    with pytest.raises(ValueError, match="bucketed"):
        dedup.embedding_near_dups(emb)
    monkeypatch.setattr(dedup, "BLOCK_LIMIT", 10)
    assert dedup.embedding_near_dups(emb).count() >= 0


def test_simhash_default_is_production_geometry(spark):
    """VERDICT r3 #1: the default simhash_pairs geometry must be the
    64-bit/16-bit-band production mode, and its candidate set must
    collapse vs the 16/4 parity mode (64 join keys total ≈ all-pairs)."""
    import inspect

    from s3_log_parser_spark.operators.dedup import simhash_pairs

    sig = inspect.signature(simhash_pairs)
    assert sig.parameters["bits"].default == 64
    assert sig.parameters["band_bits"].default == 16

    from s3_log_parser_spark.operators.dedup import simhash_df

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)

    def candidates(bits, band_bits):
        # CANDIDATE pairs (band-bucket collisions BEFORE the hamming
        # verify) — the quantity that drives join cost at scale
        s = simhash_df(docs, bits=bits)
        mask = (1 << band_bits) - 1
        bands = F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), j * band_bits)
                .bitwiseAND(F.lit(mask)).alias("val"),
            )
            for j in range(bits // band_bits)
        ])
        e = s.select("id", F.explode(bands).alias("bv"))
        a, b = e.alias("a"), e.alias("b")
        return (
            a.join(b, (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.id") < F.col("b.id")))
            .select("a.id", "b.id").distinct().count()
        )

    c64, c16 = candidates(64, 16), candidates(16, 4)
    # 16/4 geometry has 64 join keys total → candidate set ≈ all-pairs;
    # 64/16 keeps only band-colliding (genuinely similar) pairs
    assert c64 < c16 / 5, (c64, c16)
    # and the verified pair set still shrinks (stricter + selective)
    n64 = simhash_pairs(docs).count()
    n16 = simhash_pairs(docs, bits=16, band_bits=4).count()
    assert n64 < n16, (n64, n16)


def test_ngram_jaccard_auto_stop_shingle_guard(spark, docs, monkeypatch):
    """VERDICT r3 #3: a grouped input is exact below AUTO_EXACT_LIMIT
    rows and gets a loud, capped lower-bound mode above it — a
    boilerplate shingle can no longer drive Σ df(h)² unguarded."""
    import warnings

    from s3_log_parser_spark.operators import dedup
    from s3_log_parser_spark.operators.dedup import shingle_frame

    docs = docs.withColumn("grp", F.lit(1))
    exact = _jaccard_reference(shingle_frame(docs), 100)
    # small grouped input: exact, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        auto_small = {
            (r.id_a, r.id_b): r.jaccard_x1000
            for r in ngram_jaccard_pairs(
                docs, threshold_x1000=100, group_col="grp",
            ).collect()
        }
    assert auto_small == exact
    # past the (test-shrunk) limit: warns and caps
    monkeypatch.setattr(dedup, "AUTO_EXACT_LIMIT", 3)
    monkeypatch.setattr(dedup, "AUTO_MAX_DF", 2)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = {
            (r.id_a, r.id_b): r.jaccard_x1000
            for r in ngram_jaccard_pairs(
                docs, threshold_x1000=100, group_col="grp",
            ).collect()
        }
    assert any("stop-shingle" in str(x.message) for x in w)
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair]
    assert capped != exact, "the cap must drop a shared shingle here"


def test_band_joins_are_equi_joins(spark):
    """plan pin: simhash/minhash band candidate joins must be hash/merge
    equi-joins on the band key — never a nested-loop/cartesian."""
    from s3_log_parser_spark.operators.dedup import (
        minhash_candidates,
        simhash_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(150)
    for df in (simhash_pairs(docs), minhash_candidates(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:500]
        assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
            "ShuffledHashJoin" in plan
        )


def test_corpus_prep_stage_semantics(spark):
    """corpus_prep composition: exact dup dropped (lowest id wins),
    near-dup's HIGHER id dropped, low-quality docs filtered, budgets
    summed per source."""
    from s3_log_parser_spark.operators.corpus import corpus_prep

    good = (
        "the quick brown fox jumps over one lazy dog while seven other "
        "animals watch from a distant hill and discuss the weather "
        "patterns of early spring mornings"
    )
    near = good.replace("discuss", "debate").replace("seven", "nine")
    rows = [
        (0, "a", good),
        (1, "a", good),            # exact dup of 0 → dropped
        (2, "b", near),            # near dup of 0 → dropped (higher id)
        (3, "b", "short junk"),    # fails min_tokens → dropped
        (4, "b", good + " entirely different closing sentence appended "
                        "with many fresh unique words about sailing boats "
                        "across quiet northern lakes during autumn evenings "
                        "plus extra tokens keeping jaccard low enough"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    res = corpus_prep(
        docs, near_threshold_x1000=500, min_tokens=20,
        min_distinct_ratio_x1000=330,
    )
    kept = {r["doc_id"] for r in res.clean.select("doc_id").collect()}
    assert 0 in kept and 1 not in kept and 3 not in kept
    assert 2 not in kept, "near-dup (higher id) must be dropped"
    stats = {r["source"]: r for r in res.stats.collect()}
    assert stats["a"]["n_docs"] == 1
    assert stats["a"]["sum_tokens"] > 20


def test_incremental_dedup_semantics(spark):
    """ingestion-batch dedup vs history: exact text match dropped,
    near-dup of a historical doc dropped, genuinely new doc kept;
    near=False keeps near-dups."""
    from s3_log_parser_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
    )

    hist_text = (
        "the quick brown fox jumps over one lazy dog while seven other "
        "animals watch from a distant hill"
    )
    hist = build_dedup_index(
        spark.createDataFrame([(0, hist_text)], "doc_id long, text string")
    )
    new = spark.createDataFrame(
        [
            (100, hist_text),                                  # exact dup
            (101, hist_text.replace("seven", "nine")),         # near dup
            (102, "totally fresh content about sailing boats "
                  "across quiet northern lakes during autumn"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in incremental_dedup(new, hist, threshold_x1000=500).collect()
    }
    assert kept == {102}
    kept_exact_only = {
        r["doc_id"]
        for r in incremental_dedup(new, hist, near=False).collect()
    }
    assert kept_exact_only == {101, 102}


def test_decontamination(spark):
    """n-gram contamination: doc containing a benchmark 5-gram is
    flagged and removed; clean docs survive; broadcast join plan."""
    from s3_log_parser_spark.operators.decontam import (
        contamination_hits,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(0, "what is the capital city of france and why")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "according to sources what is the capital city of "
                 "france and why it matters for trade"),  # contains 5-grams
            (11, "completely unrelated content about mountain hiking "
                 "trails in early winter conditions"),
        ],
        "doc_id long, text string",
    )
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(docs, bench, n=5).collect()
    }
    assert 10 in hits and hits[10] >= 1
    assert 11 not in hits
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=5).collect()}
    assert kept == {11}
    plan = (
        contamination_hits(docs, bench, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles


def test_decontamination_no_hash_collision_hit(spark):
    """two different 5-grams whose 32-bit DJB2 shingle values are equal
    (djb2("aB") == djb2("b!"), so the token digests and the fold agree)
    share no n-gram: the clean doc is neither flagged nor removed."""
    from s3_log_parser_spark.functions.hashes import djb2_py
    from s3_log_parser_spark.operators.decontam import (
        contamination_hits,
        decontaminate,
    )

    assert djb2_py("aB") == djb2_py("b!")
    bench = spark.createDataFrame(
        [(0, "w1 w2 b! w4 w5")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "w1 w2 aB w4 w5")], "doc_id long, text string"
    )
    assert contamination_hits(docs, bench, n=5).count() == 0
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=5).collect()}
    assert kept == {10}


def test_incremental_dedup_persisted_index(spark, tmp_path):
    """the persisted-DedupIndex path must (a) produce exactly the
    in-memory-index survivors and (b) never scan the raw history
    table — per-batch cost scales with the batch, not the history."""
    from s3_log_parser_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    hist_text = (
        "the quick brown fox jumps over one lazy dog while seven other "
        "animals watch from a distant hill"
    )
    hist = spark.createDataFrame(
        [(0, hist_text), (1, "entirely separate historical record about "
                             "glacier melt rates in northern fjords")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, hist_text),                                  # exact dup
            (101, hist_text.replace("seven", "nine")),         # near dup
            (102, "totally fresh content about sailing boats "
                  "across quiet northern lakes during autumn"),
        ],
        "doc_id long, text string",
    )
    # write history to a distinctively named parquet dir so the plan
    # assertion below can detect any scan of it
    hist_raw = str(tmp_path / "hist_raw_docs")
    hist.write.parquet(hist_raw)
    idx_dir = str(tmp_path / "dedup_index")
    write_dedup_index(
        build_dedup_index(spark.read.parquet(hist_raw)), idx_dir
    )
    idx = read_dedup_index(spark, idx_dir)
    assert (idx.n, idx.k, idx.mode) == (3, 8, "djb2")

    out = incremental_dedup(new, index=idx, threshold_x1000=500)
    assert {r["doc_id"] for r in out.collect()} == {102}
    # parity with an index built in memory (never written)
    base = incremental_dedup(
        new, build_dedup_index(spark.read.parquet(hist_raw)),
        threshold_x1000=500,
    )
    assert {r["doc_id"] for r in base.collect()} == {102}

    # no-recompute pin: the indexed plan scans the three index tables,
    # never the raw history docs (whose signatures/shingles would
    # otherwise be re-derived per batch). inputFiles() resolves the
    # actual scan file set (plan toString truncates long paths).
    files = out.inputFiles()
    assert not any("hist_raw_docs" in f for f in files)
    for part in ("digests", "sigs", "shingles"):
        assert any(f"dedup_index/{part}" in f for f in files)


def test_dup_clusters_chain_closure(spark):
    """A~B and B~C (A~C never a pair) must land in ONE cluster labeled
    by the minimum id; a disjoint pair forms its own cluster."""
    from s3_log_parser_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_empty_and_long_chain(spark):
    from s3_log_parser_spark.operators.dedup import dup_clusters

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dup_clusters(empty).count() == 0
    # a 6-deep chain needs several propagation rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(chain).collect()}
    assert got == {i: 5 for i in range(5, 12)}


def test_corpus_prep_cluster_policy(spark):
    """policy='clusters': with an A~B~C near-dup chain only the lowest
    id of the whole component survives; the pair rule would keep the
    same set here only if A~C happened to band together — construct a
    chain where A~C is NOT a verified pair and assert closure."""
    from s3_log_parser_spark.operators.corpus import corpus_prep
    from s3_log_parser_spark.operators.dedup import ngram_jaccard_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    words = base.split()
    # B shares most of A; C shares most of B but little of A
    a = " ".join(words)
    b = " ".join(words[6:] + ["extra", "tail", "words", "one", "two", "three"])
    c = " ".join(
        words[12:] + ["extra", "tail", "words", "one", "two", "three",
                      "four", "five", "six", "seven", "eight", "nine"]
    )
    docs = spark.createDataFrame(
        [(1, a, "s"), (2, b, "s"), (3, c, "s")],
        "doc_id long, text string, source string",
    )
    pairs = ngram_jaccard_pairs(
        docs, threshold_x1000=300, auto_block=True
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (2, 3) in got and (1, 3) not in got

    res = corpus_prep(
        docs,
        near_threshold_x1000=300,
        min_tokens=1,
        min_distinct_ratio_x1000=0,
        policy="clusters",
    )
    assert {r["doc_id"] for r in res.clean.collect()} == {1}
    # pair rule drops the higher id of each pair — same survivors here
    # (2 and 3 each appear as an id_b) but via a different mechanism
    res_pairs = corpus_prep(
        docs,
        near_threshold_x1000=300,
        min_tokens=1,
        min_distinct_ratio_x1000=0,
        policy="pairs",
    )
    assert {r["doc_id"] for r in res_pairs.clean.collect()} == {1}

    with pytest.raises(ValueError, match="unknown policy"):
        corpus_prep(docs, policy="nope")


def test_dedup_index_daily_append_loop(spark, tmp_path):
    """two-day ingestion loop: day-2 batch dedups against the day-1
    index, its survivors are appended, and a day-3 batch then sees
    BOTH days' history (exact and near-dup legs)."""
    from s3_log_parser_spark.operators.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    d1_text = (
        "the quick brown fox jumps over one lazy dog while seven other "
        "animals watch from a distant hill"
    )
    d2_text = (
        "totally fresh content about sailing boats across quiet "
        "northern lakes during long autumn evenings"
    )
    idx_dir = str(tmp_path / "idx")
    day1 = spark.createDataFrame([(0, d1_text)], "doc_id long, text string")
    write_dedup_index(build_dedup_index(day1), idx_dir)

    day2 = spark.createDataFrame(
        [(100, d1_text), (101, d2_text)], "doc_id long, text string"
    )
    surv2 = incremental_dedup(
        day2, index=read_dedup_index(spark, idx_dir), threshold_x1000=500
    )
    assert {r["doc_id"] for r in surv2.collect()} == {101}
    append_to_dedup_index(surv2, idx_dir)

    day3 = spark.createDataFrame(
        [
            (200, d1_text),                                # dup of day 1
            (201, d2_text.replace("quiet", "silent")),     # near-dup of day 2
            (202, "entirely new discussion of mountain railway "
                  "timetables in early spring snow"),
        ],
        "doc_id long, text string",
    )
    surv3 = incremental_dedup(
        day3, index=read_dedup_index(spark, idx_dir), threshold_x1000=500
    )
    assert {r["doc_id"] for r in surv3.collect()} == {202}


def test_dup_clusters_pointer_doubling_long_chain(spark, monkeypatch):
    """a 40-node path has diameter 39; pointer doubling must close it
    within ~log2(39)+slack rounds — a limit of 8 rounds would RAISE
    under plain one-hop propagation."""
    from s3_log_parser_spark.operators import dedup
    from s3_log_parser_spark.operators.dedup import dup_clusters

    monkeypatch.setattr(dedup, "CLUSTER_MAX_ITER", 8)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(chain).collect()}
    assert got == {i: 0 for i in range(41)}


def test_append_to_dedup_index_with_persisted_survivors(spark, tmp_path):
    """regression: a PERSISTED survivor frame (whose plan reads the
    index tables) must still append all three index frames. Without
    lineage truncation, the digests append recaches the survivor plan
    against the just-grown digests table — the batch's own digest is
    now 'history' — and the sigs/shingles appends silently write zero
    rows (the streaming two-batch bug)."""
    from s3_log_parser_spark.operators.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame(
        [(0, "seed history document with plenty of distinct words here")],
        "doc_id long, text string",
    )
    write_dedup_index(build_dedup_index(seed), idx)
    batch = spark.createDataFrame(
        [(7, "a genuinely novel text about glacier caves and winter light")],
        "doc_id long, text string",
    )
    acc = incremental_dedup(
        batch, index=read_dedup_index(spark, idx), threshold_x1000=500
    ).persist()
    try:
        assert {r["doc_id"] for r in acc.collect()} == {7}
        append_to_dedup_index(acc, idx)
    finally:
        acc.unpersist()
    assert spark.read.parquet(f"{idx}/digests").count() == 2
    assert {r["id"] for r in spark.read.parquet(f"{idx}/sigs").collect()} == {0, 7}
    shing_ids = {
        r["id"] for r in spark.read.parquet(f"{idx}/shingles").collect()
    }
    assert shing_ids == {0, 7}


IDX_HIST_TEXT = (
    "the quick brown fox jumps over one lazy dog while seven other "
    "animals watch from a distant hill"
)
def _idx_hist(spark):
    return spark.createDataFrame(
        [(0, IDX_HIST_TEXT),
         (1, "entirely separate historical record about glacier melt "
             "rates in northern fjords")],
        "doc_id long, text string",
    )


def test_append_maintains_index(spark, tmp_path):
    """daily loop: append batch-1 survivors, then batch 2 must drop
    dups of BOTH original history and batch-1 accepts."""
    from s3_log_parser_spark.operators.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    fresh = (
        "totally fresh content about sailing boats across quiet "
        "northern lakes during autumn"
    )
    idx_dir = str(tmp_path / "index")
    write_dedup_index(build_dedup_index(_idx_hist(spark)), idx_dir)
    b1 = incremental_dedup(
        spark.createDataFrame(
            [
                (100, IDX_HIST_TEXT),                           # exact dup
                (101, IDX_HIST_TEXT.replace("seven", "nine")),  # near dup
                (102, fresh),
            ],
            "doc_id long, text string",
        ),
        read_dedup_index(spark, idx_dir),
        threshold_x1000=500,
    ).persist()
    assert {r["doc_id"] for r in b1.collect()} == {102}
    append_to_dedup_index(b1, idx_dir)
    b1.unpersist()

    b2 = spark.createDataFrame(
        [(200, fresh),                              # dup of batch-1 accept
         (201, IDX_HIST_TEXT),                      # dup of original history
         (202, "genuinely novel follow-up story regarding mountain trail "
               "maintenance crews and their tools")],
        "doc_id long, text string",
    )
    out = incremental_dedup(
        b2, read_dedup_index(spark, idx_dir), threshold_x1000=500
    )
    assert {r["doc_id"] for r in out.collect()} == {202}


def test_dup_clusters_string_ids_full_closure(spark):
    """ADVICE r5: with string doc ids, F.sum over the label column is
    NULL under ANSI-off, so the old sum-based convergence check read
    None == None after one propagation round and returned a PARTIAL
    closure. A 6-long chain needs >1 round — every node must still
    land on the lexicographic-min label."""
    from s3_log_parser_spark.operators.dedup import dup_clusters

    ids = [f"doc{i:02d}" for i in range(6)]
    chain = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(5)], "id_a string, id_b string"
    )
    got = {r["id"]: r["cluster_id"] for r in dup_clusters(chain).collect()}
    assert got == {i: "doc00" for i in ids}


def test_semantic_dedup_drops_near_identical_and_policies(spark):
    """SemDeDup shape: identical-direction vectors in the same cell are
    dropped (lowest id survives); on a hub-shaped graph (0~2, 1~2,
    0!~1) the pair drop rule keeps both ends of the hub."""
    from s3_log_parser_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.707, 0.707]),  # close to BOTH 0 and 1; 0 and 1 are far
        (3, [2.0, 0.0]),      # same direction as 0 -> cosine 1.0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # default threshold (0.95): only the exact-direction dup drops
    strict = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(emb, n_cells=1).collect()
    }
    assert strict == {0: True, 1: True, 2: True, 3: False}

    # hub graph at tau = 0.7: only the higher id of each qualifying
    # pair drops (2, and 3 via 0)
    loose_pairs = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(
            emb, threshold_x1m=700_000, n_cells=1
        ).collect()
    }
    assert loose_pairs == {0: True, 1: True, 2: False, 3: False}

    # every row comes back exactly once with a cell assignment
    out = semantic_dedup(emb, n_cells=1)
    assert out.count() == 4 and out.select("cell").distinct().count() == 1


def test_cluster_canonical_picks_best_score_then_min_id(spark):
    """winner per cluster = max score, tie → min id; singleton docs
    (absent from the cluster frame) keep themselves."""
    from s3_log_parser_spark.operators.dedup import cluster_canonical

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5), (42, 1)],
        "doc_id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (42, 7)],
        "id long, cluster_id long",
    )
    got = {
        r["id"]: (r["cluster_id"], r["group_size"], r["keep"])
        for r in cluster_canonical(docs, clusters, "score").collect()
    }
    # cluster 1: scores 10/99/99 → winner id 2 (tie broken by min id)
    assert got[1] == (1, 3, False)
    assert got[2] == (1, 3, True)
    assert got[3] == (1, 3, False)
    # cluster 7: 5 beats 1
    assert got[7] == (7, 2, True)
    assert got[42] == (7, 2, False)


def test_cluster_canonical_singletons_and_exactly_one_winner(spark):
    from s3_log_parser_spark.operators.dedup import (
        cluster_canonical,
        dup_clusters,
    )

    docs = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(20)], "doc_id long, s long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = cluster_canonical(docs, dup_clusters(pairs), "s").collect()
    assert len(out) == 20  # every doc appears exactly once
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rows in by_cluster.items():
        assert sum(r["keep"] for r in rows) == 1, cid
        assert all(r["group_size"] == len(rows) for r in rows)
    # docs 0,1,2 clustered; 5,6 clustered; 15 singletons
    assert len(by_cluster) == 17


def test_cluster_canonical_null_scores_order_last(spark):
    """a NULL score must never beat a scored member (ADVICE r6: -NULL
    sorts smallest in struct MIN, so without the isNull discriminant
    the unscored doc won); all-NULL clusters fall back to min id."""
    from s3_log_parser_spark.operators.dedup import cluster_canonical

    docs = spark.createDataFrame(
        [(1, 5), (2, None), (3, 9), (10, None), (11, None)],
        "doc_id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "id long, cluster_id long",
    )
    got = {
        r["id"]: r["keep"]
        for r in cluster_canonical(docs, clusters, "score").collect()
    }
    # scored 9 wins over NULL and over 5
    assert got == {1: False, 2: False, 3: True, 10: True, 11: False}


def test_cluster_canonical_rejects_string_score(spark):
    import pytest

    from s3_log_parser_spark.operators.dedup import cluster_canonical

    docs = spark.createDataFrame([(1, "high")], "doc_id long, s string")
    clusters = spark.createDataFrame([], "id long, cluster_id long")
    with pytest.raises(TypeError, match="numeric"):
        cluster_canonical(docs, clusters, "s")
