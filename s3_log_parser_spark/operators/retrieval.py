"""Lexical retrieval: BM25 top-k over the document corpus.

The retrieval counterpart of the embedding ANN suite
(``operators/similarity.py``): classic sparse scoring for RAG
pipelines, eval-set mining, and hybrid (lexical + dense) retrieval.
Beyond the reference (whose only text lookup is the substring
predicate, ``/root/reference/src/s3extract.c``); part of the
training-data extension tier.

Cross-engine exactness (the repo rule): all tf normalization is exact
64-bit rational arithmetic — the BM25 denominator
``tf + k1·(1 - b + b·dl/avgdl)`` is cleared of fractions by
multiplying through by ``100·sumdl`` (k1, b carried ×100) — and the
idf is integer-scaled ``floor(ln(1 + (N - df + ½)/(df + ½)) · 1000)``
(the Lucene/ATIRE non-negative variant). The only float op is that
one ``ln``, identical IEEE-double input in both engines.

Scale shape:

- tokenized postings are filtered by the BROADCAST query-term set
  BEFORE the tf aggregate, so the only corpus-wide exchange carries
  (doc, query-term) rows — a tiny slice of the corpus;
- df and the (N, sumdl) totals are aggregate-sized and broadcast back;
- the final top-k is a per-query row_number over scored candidates
  (queries are the small side by construction).

64-bit envelope: the cleared-fraction numerator is
``idf_x1000 · tf · (100 + K1_X100) · sumdl · 100`` — every factor
counts (ADVICE r6: a sumdl-only bound was ~2000× too generous). With
k1 = 1.2 the constant factor is 22,000, so the product is exact
while ``idf_x1000 · tf · sumdl ≲ 4e14`` per retrieval shard — e.g. a
worst-case idf of ~21,400 (N ≈ 2e9 docs, df = 1) and tf ≤ 1e3 caps
``sumdl`` near 2e7; common-term queries (low idf, modest tf) reach
sumdl ~1e10+. Past the envelope, shard the index (df/idf merge by
addition, scores are per-shard comparable) or accept double-precision
normalization; not silently done here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count, tokens

# BM25 k1 = 1.2 and b = 0.75 (the Lucene defaults), carried ×100 so the
# tf normalization stays integer
K1_X100 = 120
B_X100 = 75
# reciprocal-rank-fusion constant (Cormack et al.'s k = 60)
K_RRF = 60


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """top-k ``(doc_id, text)`` documents per ``(q_id, q_text)`` query
    by BM25. Returns
    ``(q_id, rank, doc_id, score_x1000)`` with deterministic ordering
    (score DESC, doc id ASC). Standard bag-of-terms query semantics:
    each distinct query term counts once (query-side tf is ignored,
    as in Lucene); documents sharing no query term are unscored."""
    d_id = F.col("doc_id")
    qterms = queries.select(
        F.col("q_id"),
        F.explode(F.array_distinct(tokens("q_text"))).alias("term"),
    )
    uniq_terms = qterms.select("term").distinct()

    # corpus-side postings, pruned to query terms BEFORE aggregating
    posted = (
        docs.select(d_id, F.explode(tokens("text")).alias("term"))
        .join(F.broadcast(uniq_terms), "term")
    )
    tf = posted.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    dl = docs.select(d_id, token_count("text").cast("long").alias("dl"))
    totals = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("sumdl"),
    )

    idf_x1000 = F.floor(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * 1000
    ).cast("long")
    # exact rational tf normalization, fractions cleared by 100·sumdl:
    #   num = tf·(100 + k1)·sumdl·100
    #   den = tf·10000·sumdl + k1·((100 − b)·sumdl + b·dl·N)
    num = (
        F.col("tf") * F.lit(100 + K1_X100) * F.col("sumdl") * F.lit(100)
    )
    den = F.col("tf") * F.lit(10000) * F.col("sumdl") + F.lit(K1_X100) * (
        F.lit(100 - B_X100) * F.col("sumdl")
        + F.lit(B_X100) * F.col("dl") * F.col("n_docs")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn("idf_x1000", idf_x1000)
        .withColumn("_num", F.col("idf_x1000") * num)
        .withColumn("_den", den)
        # integer division, NOT floor(_num / _den): Spark's `/` on
        # longs goes through DOUBLE and loses exactness past 2^53 —
        # `div` stays in 64-bit integers (all contributions are
        # non-negative, so div == floor division)
        .withColumn("_c", F.expr("_num div _den").cast("long"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("_c").cast("long").alias("score_x1000"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_x1000").desc(), d_id.asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "score_x1000")
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
) -> DataFrame:
    """reciprocal-rank fusion of retriever outputs — the standard
    hybrid-retrieval combiner (Cormack et al., SIGIR 2009): each input
    frame must carry ``(q_id, rank, doc_id)`` (the shape
    :func:`bm25_topk` and ``similarity.cosine_topk``/``ivf_topk``
    emit); a doc's fused score is
    ``Σ_retrievers floor(1e6 / (K_RRF + rank))`` — integer end to end,
    so fusion is cross-engine exact regardless of how incomparable the
    retrievers' raw scores are (that incomparability is WHY rank
    fusion, not score fusion, is the default).

    Scale: each input is already top-k-sized per query (retrievers cut
    the corpus); fusion is a union + one hash aggregate + one
    per-query window over ≤ Σ k_i candidate rows."""
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked input")
    parts = [
        df.select(
            "q_id",
            "doc_id",
            F.expr(f"1000000 div ({K_RRF} + rank)")
            .cast("long")
            .alias("_c"),
        )
        for df in ranked
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy("q_id", "doc_id").agg(
        F.sum("_c").cast("long").alias("rrf_x1m")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_x1m").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "rrf_x1m")
    )
