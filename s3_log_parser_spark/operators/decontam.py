"""Benchmark decontamination — flag/remove training documents that
overlap an evaluation set.

The standard policy (n-gram collision, n ≈ 8–13 tokens): a training
doc is contaminated if it shares any word n-gram with any benchmark
document. Shingle hashing reuses the dedup suite's Arrow shingle
kernel (``functions.shingles_arrow.with_shingles``) in its 64-bit
``xxhash64`` family, the only family here: a hit deletes the document,
so the shingle hash must not collide at corpus scale. Under the 32-bit
DJB2 family a 2.5M-shingle benchmark set would flag ~44% of clean
1,000-shingle documents (1 − e^(−1000·2.5e6/2³²)), and two different
5-grams such as ``w1 w2 aB w4 w5`` / ``w1 w2 b! w4 w5`` already share
one value.

Scale shape: the BENCHMARK side is small by nature (eval sets are
thousands of docs), so its distinct shingle-hash set is broadcast and
the corpus-side join is a broadcast hash join — the 100 TB corpus
never shuffles; cost is one scan + per-row array explode. n_hits
counts DISTINCT shared shingles (doc shingle sets are distinct by
construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
) -> DataFrame:
    """per-doc count of distinct word n-grams of ``text`` shared with
    the benchmark set — (doc_id, n_hits), only docs with ≥1 hit."""
    from ..functions.shingles_arrow import with_shingles

    # vectorized Arrow shingle kernel (a Catalyst n=8 shingle
    # expression chain alone cost 4.3 s/evaluation at sf0.1)
    bench = (
        with_shingles(benchmark.select("text"), "text", n, mode="xxhash64")
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    post = with_shingles(
        docs.select("doc_id", "text"), "text", n, keep=("doc_id",),
        mode="xxhash64",
    ).select("doc_id", F.explode("sh").alias("h"))
    return (
        post.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
) -> DataFrame:
    """drop docs sharing any n-gram with the benchmark."""
    flagged = contamination_hits(docs, benchmark, n).select("doc_id")
    return docs.join(flagged, "doc_id", "left_anti")
