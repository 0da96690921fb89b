"""Temporal joins Spark lacks natively: as-of and interval-range.

``asof_join(left, right)`` matches every left row to the most recent
right row with ``right.on ≤ left.on`` within the ``by`` key (backward,
inclusive) — the canonical "which dim state was in force when this
event happened" operator (pandas ``merge_asof``, DuckDB/kdb ``ASOF
JOIN``; the DuckDB oracle uses its native form).

Spark shape (the distributed-classic rewrite, NOT a range cross-join):
tag and UNION the two inputs, sort each ``by`` partition once on
``(ts, side)`` with right rows first at equal ts, and propagate the
last non-null right payload forward with ``last(..., ignorenulls)``
over an unbounded-preceding running frame. One window shuffle on the
``by`` key — the same single-exchange cost as sessionization — and the
running frame streams (no whole-partition buffering). A naive
non-equi join (``l.ts >= r.ts`` + max) is O(|L|·|R|) per key and an
accidental cartesian at 100 TB; this is O((|L|+|R|) log) per key.
Skewed hot keys salt the same way the pipeline's conv_id does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _us(col: Column | str) -> Column:
    """microseconds since epoch; NTZ-tolerant (interval arithmetic on a
    parquet timestamp yields TIMESTAMP_NTZ, which unix_micros rejects —
    cast first; both engines treat the values as wall-clock UTC)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: tuple[str, ...] = ("user_id",),
    right_cols: tuple[str, ...] = ("state_id",),
) -> DataFrame:
    """backward-inclusive as-of join; returns every ``left`` row plus
    the matched ``right_cols`` (NULL when no earlier right row exists).

    ``right`` must be unique per ``(by, on)`` — pre-aggregate if not
    (equal-timestamp duplicates would make the winning payload
    order-dependent, the same partition-dependence trap as
    ``dropDuplicates``).
    """
    by = tuple(by)
    left_cols = left.columns
    # union schema: (by..., _ts, _side, _rv, <left-only carry cols>) —
    # by/_ts are real on BOTH sides (they drive the partition/sort);
    # the right payload travels as ONE struct column; left-only
    # columns ride as NULL on right rows
    carry = [c for c in left_cols if c not in by]
    rv = F.struct(*[F.col(c) for c in right_cols])
    r = right.select(
        *[F.col(c) for c in by],
        F.col(on).alias("_ts"),
        F.lit(0).alias("_side"),  # right sorts BEFORE left at equal ts
        rv.alias("_rv"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in carry
        ],
    )
    l = left.select(  # noqa: E741
        *[F.col(c) for c in by],
        F.col(on).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_rv"].dataType).alias("_rv"),
        *[F.col(c) for c in carry],
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("_rv", ignorenulls=True).over(w)
    out = (
        r.unionByName(l)
        .withColumn("_m", matched)
        .filter(F.col("_side") == 1)
    )
    return out.select(
        *[F.col(c) for c in left_cols],
        *[F.col("_m")[c].alias(c) for c in right_cols],
    )


# the most time buckets one interval may explode to in range_join
MAX_BUCKETS_PER_INTERVAL = 1_000


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """interval-containment join: every ``left`` row paired with every
    interval (same ``user_id``) satisfying ``start_ts ≤ ts < end_ts``
    (inner-join semantics — a row inside two overlapping intervals
    yields two output rows). The second temporal operator Spark lacks
    natively ("which maintenance window / session / deploy covered
    this event").

    Scale shape: a naive theta-join on the BETWEEN predicate plans a
    per-key cross product (O(|L|·|I|) per key — fatal at 100 TB).
    Instead both sides are quantized to fixed ``bucket_seconds`` time
    buckets — each interval EXPLODES to the buckets it overlaps, each
    event maps to exactly one — then an equi-join on (user_id, bucket) +
    the exact residual predicate. Cost: |L| + Σ interval-spans join
    rows, all hash-distributed. Pick ``bucket_seconds`` near the
    typical interval length (a too-small bucket inflates the explode;
    a too-big one inflates false candidate pairs — same tuning story
    as every banded join in this repo). ``MAX_BUCKETS_PER_INTERVAL``
    guards the degenerate explode (a year-long interval at 1 s buckets)
    with a loud error.
    """
    us = 1_000_000 * bucket_seconds
    iv = intervals.filter(F.col("end_ts") > F.col("start_ts"))
    startb = F.floor(_us("start_ts") / us)
    # end is EXCLUSIVE: the bucket of the last contained microsecond
    endb = F.floor((_us("end_ts") - 1) / us)
    worst = iv.agg(F.max(endb - startb + 1).alias("m")).first()["m"]
    if worst is not None and worst > MAX_BUCKETS_PER_INTERVAL:
        raise ValueError(
            f"range_join: an interval spans {worst} buckets of "
            f"{bucket_seconds}s (> {MAX_BUCKETS_PER_INTERVAL}); raise "
            "bucket_seconds — exploding it would multiply the interval "
            "side by that factor"
        )
    ivx = iv.withColumn("_bucket", F.explode(F.sequence(startb, endb)))
    lx = left.withColumn("_bucket", F.floor(_us("ts") / us))
    cond = [lx["user_id"] == ivx["user_id"], lx["_bucket"] == ivx["_bucket"]]
    joined = lx.join(ivx, cond).filter(
        (lx["ts"] >= ivx["start_ts"]) & (lx["ts"] < ivx["end_ts"])
    )
    keep_iv = [c for c in intervals.columns if c != "user_id"]
    return joined.select(
        *[lx[c] for c in left.columns],
        *[ivx[c] for c in keep_iv],
    )
