"""Benchmark decontamination — flag/remove training documents that
overlap an evaluation set.

The standard policy (n-gram collision, n ≈ 8–13 tokens): a training
doc is contaminated if it shares any word n-gram with any benchmark
document. Shingle hashing reuses the dedup suite's Arrow shingle
kernel (``functions.shingles_arrow.with_shingles``, bit-exact vs
:func:`..operators.dedup.shingle_hashes` — DJB2 fold over token
digests, cross-engine exact).

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
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    mode: str = "djb2",
) -> DataFrame:
    """per-doc count of distinct word n-grams shared with the benchmark
    set — (id, n_hits), only docs with ≥1 hit. ``mode`` selects the
    shingle hash family (same policy as the dedup suite: ``djb2`` is
    the oracle-parity family, ``xxhash64`` the 64-bit codegen
    production family — both sides must use the same one)."""
    from ..functions.shingles_arrow import with_shingles

    # vectorized Arrow shingle kernel (bit-exact vs ``shingle_hashes``;
    # that Catalyst n=8 expression chain alone cost 4.3 s/evaluation at
    # sf0.1)
    bench = (
        with_shingles(benchmark.select(text_col), text_col, n, mode=mode)
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    post = with_shingles(
        docs.select(F.col(id_col), F.col(text_col)),
        text_col, n, keep=(id_col,), mode=mode,
    ).select(F.col(id_col), F.explode("sh").alias("h"))
    return (
        post.join(F.broadcast(bench), "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_hits: int = 0,
    mode: str = "djb2",
) -> DataFrame:
    """drop docs sharing more than ``max_hits`` n-grams with the
    benchmark (default: any overlap)."""
    flagged = (
        contamination_hits(docs, benchmark, id_col, text_col, n, mode)
        .filter(F.col("n_hits") > max_hits)
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")
