"""Similarity search over embedding columns.

- :func:`cosine_topk` — brute-force top-k neighbors (exact baseline).
  Distributed shape: broadcast the query set, scan the corpus once,
  per-query top-k via window. At 100 TB this is the "small query set ×
  huge corpus" pattern — corpus never shuffles, only (q, candidate,
  score) rows sized |Q|·k survive the window.
- :func:`ann_lsh_bucketed` — the scale path: deterministic
  random-hyperplane LSH buckets (functions/vectors.hyperplane_bits),
  candidates only within matching buckets → turns O(|Q|·N) into
  O(|Q|·N/2^planes) at a recall cost; multi-probe via XOR-1 neighbors.
- :func:`ivf_topk` — IVF-style: k-means-free centroid assignment using
  a deterministic sample of corpus rows as centroids, probe the
  nearest ``nprobe`` cells only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, hyperplane_bits, norm_pre


def _with_norm(df, vec, out="nrm"):
    # cast the vector to array<double> ONCE per row and keep it: inside
    # the pairwise joins below, every per-pair evaluation of an un-cast
    # dot() would re-run two transform casts (two array allocations per
    # pair — the r2 knn_bruteforce 0.87→1.33 s regression was exactly
    # this on the query side)
    return df.withColumn(vec, as_double(F.col(vec))).withColumn(
        out, norm_pre(F.col(vec))
    )


def _cos_x1m(a_vec, b_vec, a_nrm, b_nrm):
    # identical FP ops to cosine_x1m, but per-row norms and double
    # casts are precomputed once, and the per-pair fold runs in the
    # numpy-vectorized (fold-left-order, bit-identical) pandas UDF —
    # see vectors.cos_x1m_pairs
    from ..functions.vectors import cos_x1m_pairs

    return cos_x1m_pairs(a_vec, b_vec, a_nrm, b_nrm)


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """exact top-k by cosine over ``(vec_id, embedding)`` for each
    query row (query ≠ candidate).

    Deterministic ordering: (cosine_x1m DESC, candidate id ASC) — the
    integer-scaled cosine makes rank stable across engines.
    """
    q = _with_norm(
        queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")),
        "q_vec", "q_nrm",
    )
    c = _with_norm(
        corpus.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")),
        "c_vec", "c_nrm",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            _cos_x1m(
                F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine_x1m"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_x1m").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine_x1m")
    )


# sign-LSH hyperplanes and embedding width of ann_lsh_bucketed
LSH_PLANES = 4
LSH_DIM = 64


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = LSH_PLANES,
    dim: int = LSH_DIM,
) -> DataFrame:
    return df.withColumn(
        "lsh_bucket", hyperplane_bits(F.col(vec_col), n_planes, dim)
    )


def ann_lsh_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """approximate top-k over ``(vec_id, embedding)``: candidates
    restricted to the query's LSH bucket (multi-probe: also the buckets
    within Hamming distance 1 of it — the standard recall fix for sign-LSH on
    near-orthogonal data). Equi-join on bucket → hash join instead of a
    cross join; the bucket column is also the natural Iceberg partition
    for a persisted ANN index table."""
    q = _with_norm(
        with_lsh_bucket(
            queries.select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
            ),
            "q_vec",
        ),
        "q_vec", "q_nrm",
    )
    # probe the query's bucket plus each single-bit flip of it
    probes = F.array(
        F.col("lsh_bucket"),
        *[F.col("lsh_bucket").bitwiseXOR(F.lit(1 << j)) for j in range(LSH_PLANES)],
    )
    q = q.withColumn("lsh_bucket", F.explode(probes))
    c = _with_norm(
        with_lsh_bucket(
            corpus.select(
                F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
            ),
            "c_vec",
        ),
        "c_vec", "c_nrm",
    )
    scored = (
        c.join(F.broadcast(q), "lsh_bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            _cos_x1m(
                F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine_x1m"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_x1m").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine_x1m")
    )


def ivf_centroids(corpus: DataFrame, n_cells: int = 8) -> DataFrame:
    """deterministic pseudo-random centroid pick: the ``n_cells``
    smallest Knuth multiplicative hashes of ``vec_id`` — uniform across the
    id space, reproducible in any engine, no kmeans dependency. At
    scale the pick is a TakeOrderedAndProject over (hash, id, vec) —
    one scan, no shuffle of the corpus. Returns
    ``(cent_id, cent_vec, cent_nrm)``. Shared by :func:`ivf_topk` and
    ``dedup.semantic_dedup``."""
    # (id mod 2^31) * K mod 2^32: stays inside signed-64 range even for
    # huge ids (ANSI mode would error on a real overflow)
    cent_rank = F.pmod(
        F.pmod(F.col("vec_id").cast("long"), F.lit(1 << 31)) * F.lit(2654435761),
        F.lit(1 << 32),
    )
    return _with_norm(
        corpus.select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
            cent_rank.alias("_cr"),
        )
        .orderBy("_cr", "cent_id")
        .limit(n_cells)
        .drop("_cr"),
        "cent_vec", "cent_nrm",
    )


def _ivf_scored(df: DataFrame, cent: DataFrame, idc: str, vecc: str):
    pre = _with_norm(df, vecc, "_nrm")
    return pre.crossJoin(F.broadcast(cent)).select(
        F.col(idc),
        F.col(vecc),
        F.col("_nrm"),
        F.col("cent_id"),
        _cos_x1m(
            F.col(vecc), F.col("cent_vec"), F.col("_nrm"), F.col("cent_nrm")
        ).alias("s"),
    )


def ivf_assign(
    df: DataFrame,
    cent: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """max-cosine cell assignment of every row against a broadcast
    centroid frame. A row_number window would shuffle AND sort all
    N×n_cells scored rows; max_by is one hash aggregate with map-side
    partial reduction (the crossJoin keeps each id's n_cells rows in
    one partition, so the shuffle moves ~N pre-reduced rows).
    Tie-break matches the window's (s DESC, cent_id ASC): max of
    (s, -cent_id). Returns (id, vec, {id}_nrm, cell) — shared by
    :func:`ivf_topk` (corpus side) and ``dedup.semantic_dedup``."""
    scored = _ivf_scored(df, cent, id_col, vec_col)
    picked = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(vec_col).alias("v"), F.col("_nrm").alias("n"),
                     F.col("cent_id").alias("c")),
            F.struct(F.col("s"), (-F.col("cent_id")).alias("nc")),
        ).alias("_best")
    )
    return picked.select(
        F.col(id_col),
        F.col("_best.v").alias(vec_col),
        F.col("_best.n").alias(f"{id_col}_nrm"),
        F.col("_best.c").alias("cell"),
    )


def _ivf_probe(
    df: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """the QUERY side: each row probes its ``nprobe`` nearest cells
    (row_number window — queries are the small side)."""
    scored = _ivf_scored(df, cent, id_col, vec_col)
    w = Window.partitionBy(id_col).orderBy(F.col("s").desc(), F.col("cent_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_nrm").alias(f"{id_col}_nrm"),
            F.col("cent_id").alias("cell"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat ANN over ``(vec_id, embedding)``: deterministic
    centroids (:func:`ivf_centroids`),
    rows assigned to their max-cosine centroid (:func:`ivf_assign`),
    queries probe the ``nprobe`` nearest cells."""
    cent = ivf_centroids(corpus, n_cells=n_cells)
    c = ivf_assign(
        corpus.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")),
        cent, "c_id", "c_vec",
    )
    q = _ivf_probe(
        queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")),
        cent, "q_id", "q_vec", nprobe,
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            _cos_x1m(
                F.col("q_vec"), F.col("c_vec"),
                F.col("q_id_nrm"), F.col("c_id_nrm"),
            ).alias("cosine_x1m"),
        )
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_x1m").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine_x1m")
    )


def cosine_topk_quantized(
    corpus: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """top-k by cosine over int8-quantized ``embedding`` vectors — the storage/compute
    trade every large ANN deployment makes: per-vector symmetric scalar
    quantization (functions/vectors.quantize_vec) shrinks the corpus 4×
    (float32 → int8) and the pairwise dot products become exact integer
    arithmetic. Cosine is scale-invariant, so the per-vector scale
    cancels and never needs to be joined back. Ranking quality vs the
    float path is recall-pinned in tests."""
    from ..functions.vectors import quantize_vec

    def qz(df: DataFrame) -> DataFrame:
        q, _ = quantize_vec(F.col("embedding"))
        return df.select("vec_id", q.alias("embedding"))

    return cosine_topk(qz(corpus), qz(queries), k=k)
