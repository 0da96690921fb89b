"""Similarity search: brute-force exactness, ANN recall, determinism."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.similarity import (
    ann_lsh_bucketed,
    cosine_topk,
    ivf_topk,
    with_lsh_bucket,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_topk_exact_against_numpy(spark, emb):
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    q = 0
    order = [
        ids[j]
        for j in np.argsort(-sims[q])
        if ids[j] != ids[q]
    ][:5]

    got = (
        cosine_topk(emb, emb.filter(F.col("vec_id") == ids[q]), k=5)
        .orderBy("rank")
        .collect()
    )
    assert [r["c_id"] for r in got] == order


def test_topk_deterministic_ranking(spark, emb):
    a = cosine_topk(emb, emb.filter("vec_id < 3"), k=5).collect()
    b = cosine_topk(emb.repartition(7), emb.filter("vec_id < 3"), k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ann_results_subset_of_bucket_and_ranked(spark, emb):
    q = emb.filter("vec_id < 5")
    out = ann_lsh_bucketed(emb, q, k=3)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["q_id"] != r["c_id"]
    # per-query ranks are 1..n without gaps
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_recall_reasonable(spark, emb):
    """LSH with 4 planes keeps decent top-1 recall on 50 queries."""
    q = emb.filter("vec_id < 50")
    exact = {
        r["q_id"]: r["c_id"]
        for r in cosine_topk(emb, q, k=1).collect()
    }
    ann = {
        r["q_id"]: r["c_id"]
        for r in ann_lsh_bucketed(emb, q, k=1).collect()
    }
    hits = sum(1 for k in exact if ann.get(k) == exact[k])
    # multi-probe radius 1 → ~5/16 of the corpus scanned per query;
    # random near-orthogonal vectors are LSH's worst case, and top-1
    # recall still clears 0.4 (vs 1/500 random baseline)
    assert hits / len(exact) >= 0.4


def test_lsh_bucket_deterministic(spark, emb):
    a = with_lsh_bucket(emb, n_planes=4, dim=64).select("vec_id", "lsh_bucket")
    b = with_lsh_bucket(emb.repartition(5), n_planes=4, dim=64).select(
        "vec_id", "lsh_bucket"
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_ivf_shapes(spark, emb):
    out = ivf_topk(emb, emb.filter("vec_id < 3"), k=3, n_cells=8, nprobe=2)
    rows = out.collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2}
    for r in rows:
        assert 1 <= r["rank"] <= 3


def test_ivf_recall_reasonable(spark, emb):
    """stratified-hash centroids + nprobe=2/8 cells keep top-1 recall
    well above random on 50 queries (analog of the LSH recall pin)."""
    q = emb.filter("vec_id < 50")
    exact = {r["q_id"]: r["c_id"] for r in cosine_topk(emb, q, k=1).collect()}
    ivf = {
        r["q_id"]: r["c_id"]
        for r in ivf_topk(emb, q, k=1, n_cells=8, nprobe=2).collect()
    }
    hits = sum(1 for k in exact if ivf.get(k) == exact[k])
    # nprobe=2 of 8 cells ≈ ¼ of the corpus scanned per query; random
    # baseline would be ~1/500
    assert hits / len(exact) >= 0.3


def test_vectorized_cosine_bit_identical_to_hof(spark):
    """cos_x1m_pairs claims bit-identical FP to the fold-left HOF form
    (the cross-engine oracle depends on it) — pin it on adversarial
    vectors: mixed magnitudes, negatives, denormal-ish values."""
    import random

    from pyspark.sql import functions as F

    from s3_log_parser_spark.functions.vectors import (
        as_double,
        cos_x1m_pairs,
        dot_pre,
        norm_pre,
    )

    rnd = random.Random(7)
    rows = []
    for i in range(200):
        scale = 10.0 ** rnd.randint(-6, 6)
        rows.append(
            (i, [rnd.uniform(-1, 1) * scale for _ in range(64)]),
        )
    df = spark.createDataFrame(rows, "id long, v array<double>")
    v = df.select("id", as_double(F.col("v")).alias("v")).withColumn(
        "nrm", norm_pre(F.col("v"))
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.floor(
            dot_pre(F.col("a.v"), F.col("b.v"))
            / (F.col("a.nrm") * F.col("b.nrm"))
            * 1_000_000
        ).cast("long").alias("hof"),
        cos_x1m_pairs(
            F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
        ).alias("vec"),
    )
    diff = pairs.filter(F.col("hof") != F.col("vec")).count()
    assert diff == 0, f"{diff} of 19900 pairs differ between HOF and numpy"


def test_ivf_corpus_assignment_has_no_window(spark):
    """plan pin (VERDICT r3 #6): centroid assignment of the corpus side
    must be a max_by aggregate, not a row_number window — the only
    Window nodes partition on q_id (the broadcast query side)."""
    import re

    from s3_log_parser_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = ivf_topk(emb, emb.limit(5), k=5, n_cells=8, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert keys and all(k == "q_id" for k in keys), keys
    assert "max_by" in plan


def test_quantized_topk_recall_vs_float(spark):
    """int8 quantized top-k must recover >=90% of the float top-5 per
    query on the fixture corpus (standard scalar-quantization trade)."""
    from s3_log_parser_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 20")
    exact = {}
    for r in cosine_topk(emb, q, k=5).collect():
        exact.setdefault(r["q_id"], set()).add(r["c_id"])
    quant = {}
    for r in cosine_topk_quantized(emb, q, k=5).collect():
        quant.setdefault(r["q_id"], set()).add(r["c_id"])
    hits = sum(len(exact[k] & quant.get(k, set())) for k in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, (hits, total)


def test_quantize_vec_values(spark):
    """quantization semantics: symmetric scale, floor-half-up, zero
    vector -> all zero."""
    from s3_log_parser_spark.functions.vectors import quantize_vec

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q, s = quantize_vec("embedding")
    got = {r["vec_id"]: (r["q"], r["s"]) for r in df.select("vec_id", q.alias("q"), s.alias("s")).collect()}
    assert got[1][0] == [127, -63, 32, 0]  # -63.5 floors half-UP to -63
    assert abs(got[1][1] - 1.0 / 127) < 1e-12
    assert got[2][0] == [0, 0, 0, 0] and got[2][1] == 0.0
