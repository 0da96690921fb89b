"""Corpus snapshot diff — dataset versioning for training-data
pipelines.

Between two snapshots of a document corpus (nightly crawls, pre/post
cleaning passes, vendor re-deliveries) the questions are always the
same: what was added, what disappeared, what changed in place, and how
big is the churn. Computing that as "full outer join old ON id" is the
obvious shape, but it shuffles BOTH corpus snapshots and sort-merges
them; the diff only needs each id's (old digest, new digest) pair, so
the tagged-union form gets it with ONE exchange:

    old → (id, dig, side=0)  ∪  new → (id, dig, side=1)
        → groupBy(id).agg(max-per-side digest)
        → row-local status CASE

Both scans stream into the same aggregate: ONE exchange over the
unioned rows instead of a per-side exchange feeding a join operator.
(No map-side reduction happens — ids are unique within a snapshot, so
partial aggregation can't collapse rows; the saving is the second
shuffle write/read and the join buffers, not combine. The string
digest in the aggregation buffer makes Spark pick SortAggregate —
equivalent to the sort a merge-join would do anyway. The real 100 TB
lever is storage layout: snapshots bucketed by id diff with NO
exchange at all, which this plan inherits for free since its only
requirement is id-clustering.) Digests are md5
of the (optionally whitespace-normalized) text — the same canonical
key :func:`~.dedup.exact_dedup` uses, so "changed" means exactly
"would no longer exact-dedup against its old self".

Statuses: ``added`` (id only in new), ``removed`` (id only in old),
``changed`` (both, digests differ), ``unchanged``. Duplicate ids
within one snapshot violate the snapshot contract and raise (silently
max-picking a digest would make `changed` nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_digest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """``(id, dig)`` — md5 content digest per document, the exact-dedup
    canonical key (lower+trim normalized unless ``normalize=False``).
    NULL text digests as the empty string's digest."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    key = F.md5(F.lower(F.trim(c))) if normalize else F.md5(c)
    return df.select(F.col(id_col).alias("id"), key.alias("dig"))


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """``(id, old_dig, new_dig, status)`` for every id in either
    snapshot. One tagged union + one hash aggregate — the two corpus
    scans never join and never sort; the only exchange is on the
    uniformly distributed id.

    A per-id cardinality guard runs inside the SAME
    aggregate (``raise_error`` inside the status CASE — lazy, zero
    extra passes, fails the job at execution time) against snapshots
    that carry a duplicate id — a diff over a non-snapshot input is
    meaningless, not merely noisy."""

    def _side(df: DataFrame, side: int) -> DataFrame:
        d = snapshot_digest(df, id_col, text_col, normalize)
        return d.select(
            "id",
            F.when(F.lit(side) == 0, F.col("dig")).alias("od"),
            F.when(F.lit(side) == 1, F.col("dig")).alias("nd"),
        )

    agg = (
        _side(old, 0)
        .unionByName(_side(new, 1))
        .groupBy("id")
        .agg(
            F.max("od").alias("old_dig"),
            F.max("nd").alias("new_dig"),
            F.count("od").alias("_no"),
            F.count("nd").alias("_nn"),
        )
    )
    status = (
        F.when(F.col("old_dig").isNull(), F.lit("added"))
        .when(F.col("new_dig").isNull(), F.lit("removed"))
        .when(F.col("old_dig") == F.col("new_dig"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    status = F.when(
        (F.col("_no") > 1) | (F.col("_nn") > 1),
        F.raise_error(
            F.concat_ws(
                " ",
                F.lit(
                    "corpus_diff: duplicate id within one snapshot"
                    " (inputs must be id-unique — exact_dedup first):"
                ),
                F.col("id").cast("string"),
            )
        ),
    ).otherwise(status)
    return agg.select("id", "old_dig", "new_dig", status.alias("status"))


def corpus_diff_stats(diff: DataFrame) -> DataFrame:
    """``(status, n)`` — churn summary of a :func:`corpus_diff` frame
    (one more bounded aggregate; output ≤ 4 rows)."""
    return diff.groupBy("status").agg(F.count("*").cast("long").alias("n"))
