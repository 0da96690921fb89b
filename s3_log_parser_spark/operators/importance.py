"""Hashed n-gram importance weighting for targeted data selection
(DSIR-style: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" — hashed n-gram features, importance = how much
more target-like than raw-like a document's features are).

Spark-first shape: the feature space is ``buckets`` hashed n-gram
buckets (default 4096), so BOTH distribution tables are aggregate-sized
(≤ ``buckets`` rows) no matter how large the corpora are. Scoring a
100 TB corpus is then one explode over each doc's distinct buckets plus
one BROADCAST join against the ≤4096-row weight table and a map-side
re-aggregate — the corpus never shuffles on anything but its own doc
ids, and the weight table never leaves the driver-broadcast path.

Arithmetic is exact-integer (house rule — the DuckDB oracle reproduces
every value digit-for-digit): per-bucket weight is the add-one-smoothed
frequency ratio

    weight_x1000 = ((target_n + 1) * SCALE) div (raw_n + 1)

NOT the log-ratio of normalized probabilities. Dropping the
(raw_total / target_total) normalizer multiplies every bucket's ratio
by the same constant, so per-doc rankings — the thing resampling
consumes — are unchanged, while the arithmetic stays in BIGINT: with
``SCALE`` = 1000 the product is exact far past any real per-bucket
count (overflow needs target_n > ~9.2e15). The log-space sum of the
original paper is order-isomorphic to this sum-of-ratios only
approximately; we document the surrogate rather than paying float
nondeterminism across engines (see BASELINE.md exact-compare rules).

Presence-based features: each document contributes its DISTINCT bucket
set (``shingle_hashes`` is already a distinct set), matching the
binary-feature variant of hashed-ngram models.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_hashes

# fixed-point scale of the weights and scores: ``weight_x1000``,
# ``imp_x1000``
SCALE = 1000
# the default feature space: word n-gram length and hashed bucket count
NGRAM_N = 2
BUCKETS = 4096


def ngram_buckets(col: Column | str) -> Column:
    """distinct hashed n-gram feature buckets of a text column
    (array<long>, values in [0, BUCKETS)) over the djb2 oracle-parity
    shingle family, ``NGRAM_N`` words long."""
    return F.array_distinct(
        F.transform(
            shingle_hashes(col, NGRAM_N),
            lambda h: F.pmod(h, F.lit(BUCKETS)),
        )
    )


def bucket_frame(
    df: DataFrame, n: int, buckets: int, keep: tuple[str, ...] = ()
) -> DataFrame:
    """``(keep..., bucket)`` exploded distinct-bucket rows of the
    ``text`` column — the vectorized Arrow djb2 shingle kernel
    (bit-exact vs :func:`ngram_buckets`; the bucket fold on the small
    ``sh`` arrays stays Catalyst)."""
    from ..functions.shingles_arrow import with_shingles

    sh = with_shingles(df, "text", n, keep=keep)
    bkts = F.array_distinct(
        F.transform(F.col("sh"), lambda h: F.pmod(h, F.lit(buckets)))
    )
    return sh.select(*keep, F.explode(bkts).alias("bucket"))


def bucket_weights(
    raw: DataFrame,
    target: DataFrame,
    n: int = NGRAM_N,
    buckets: int = BUCKETS,
    raw_buckets: DataFrame | None = None,
    target_buckets: DataFrame | None = None,
) -> DataFrame:
    """per-bucket importance weight table over the ``text`` column:
    ``(bucket, raw_n, target_n, weight_x1000)`` with
    ``weight = ((target_n + 1) * SCALE) div (raw_n + 1)`` (add-one
    smoothed, exact BIGINT). ≤ ``buckets`` rows — always broadcastable.

    Both corpora's presence streams are tagged and UNIONED into ONE
    hash aggregate (map-side combine on each input, a single ≤buckets-
    key exchange) — no join of the count tables at all, so the outer-
    join semantics (a bucket seen in only one corpus still gets a
    smoothed weight) fall out for free. Buckets seen in neither corpus
    don't need a row — scorers coalesce their weight to ``SCALE`` (the
    smoothed (0+1)/(0+1) ratio) at lookup time.

    ``raw_buckets`` / ``target_buckets`` (r7): pre-exploded bucket
    frames (any frame with a ``bucket`` column, e.g. a staged
    :func:`bucket_frame` or a filtered slice of one) substitute for
    re-running the shingle kernel over ``raw`` / ``target`` — the
    staged-feature-frame seam, exactly like the dedup shingle frame:
    a composition that needs weights AND scores derives every stream
    from ONE kernel pass."""

    def _tagged(df: DataFrame, pre: DataFrame | None, rc: int, tc: int) -> DataFrame:
        b = pre if pre is not None else bucket_frame(df, n, buckets)
        return b.select(
            "bucket",
            F.lit(rc).alias("_r"),
            F.lit(tc).alias("_t"),
        )

    j = (
        _tagged(raw, raw_buckets, 1, 0)
        .unionByName(_tagged(target, target_buckets, 0, 1))
        .groupBy("bucket")
        .agg(
            F.sum("_r").cast("long").alias("raw_n"),
            F.sum("_t").cast("long").alias("target_n"),
        )
    )
    # floor division on non-negative BIGINTs — identical to DuckDB's
    # `//`. Integer `div`, not F.floor of a double `/` (ADVICE r6): the
    # double intermediate silently loses exactness once
    # (target_n+1)*SCALE exceeds 2^53 (~9e12 docs per bucket); `div`
    # stays in 64-bit integers the whole way, the same house rule
    # retrieval.py applies to its score arithmetic.
    w = F.expr(f"((target_n + 1) * {SCALE}) div (raw_n + 1)")
    return j.withColumn("weight_x1000", w)


def importance_scores(
    df: DataFrame,
    weights: DataFrame,
    n: int = NGRAM_N,
    buckets: int = BUCKETS,
    buckets_df: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, n_feats, imp_x1000)`` per document: the sum of its
    distinct feature buckets' weights (buckets absent from the weight
    table count ``SCALE``, the smoothed neutral ratio). Target-like
    documents score high, raw-typical documents score ≈ n_feats·SCALE.

    Plan shape: explode → ONE broadcast hash join against the
    ≤ ``buckets``-row weight table → hash re-aggregate on the doc id.
    No sort, no corpus-sized shuffle beyond the id re-aggregate."""
    b = (
        buckets_df
        if buckets_df is not None
        else bucket_frame(df, n, buckets, keep=("doc_id",))
    )
    j = b.join(
        F.broadcast(weights.select("bucket", "weight_x1000")), "bucket", "left"
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_feats"),
        F.sum(F.coalesce(F.col("weight_x1000"), F.lit(SCALE)))
        .cast("long")
        .alias("imp_x1000"),
    )


def importance_resample(
    df: DataFrame,
    weights: DataFrame,
    k: int,
    n: int = NGRAM_N,
    buckets: int = BUCKETS,
    buckets_df: DataFrame | None = None,
) -> DataFrame:
    """the top-``k`` most target-like documents (deterministic total
    order: score desc, then id asc — re-runs pick the same set). The
    global top-k is a TakeOrderedAndProject (per-partition heaps, no
    full sort); joining back to the original rows is an id equi-join
    against a ≤k-row broadcast side."""
    scores = importance_scores(df, weights, n, buckets, buckets_df=buckets_df)
    top = scores.orderBy(
        F.col("imp_x1000").desc(), F.col("doc_id").asc()
    ).limit(k)
    return df.join(F.broadcast(top), "doc_id", "inner")
