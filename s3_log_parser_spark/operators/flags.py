"""ST1/ST2: first-occurrence dedup flag + 206 chunk-position bitmask.

Reference semantics (``/root/reference/src/s3parser.c:593-659``, pinned
by ``tests/test_parser.cpp:10-134``):

- flags computed only for http 206 rows; others get 0.
- START (``byte_start == 0``) sets 0x02, plus 0x01 (UNIQUE_IP) when the
  (ip_hash, key_hash) pair is seen for the first time. The uniqueness
  probe *only happens on START rows* — repeats and non-start rows never
  insert.
- END (``byte_end >= object_size - end_check``) *overwrites* everything
  → 0x08 (the ``=`` not ``|=`` at src/s3parser.c:613-616, kept because
  the reference's own tests pin it: start+end case yields 0x08).
  ``end_check`` is 1 MiB, reduced to 1000 B for objects < 1 MiB.
- otherwise MID → 0x04.
- NULL-range policy (explicit deviation): a 206 row whose range header
  failed to parse has NULL byte_start/byte_end → both the END and START
  predicates are null-guarded false → the row classifies MID. The
  reference can't hit this state (its zeroed defaults would yield
  START+UNIQUE, src/s3parser.c:165-171 + :599-607); we prefer the
  honest "position unknown" bucket over fabricating a START.

The reference's sequential hash-set (``is_unique_ip``, 12,289 slots,
saturates on big inputs — SURVEY.md §2.9 ST1) becomes a window:
``row_number() over (partition by ip_hash, key_hash order by conv_id,
turn_idx) == 1`` — the stable turn ordering is the distributed,
partition-invariant surrogate for "file order", and the dedup is exact
and unbounded (no 12,289-entry saturation).

Scale note: the window shuffles on (ip_hash, key_hash) — high
cardinality, naturally well-distributed (they're hashes), so no skew;
this is the one unavoidable exchange of the parse job (SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import (
    FLAG_END_206DL,
    FLAG_MID_206DL,
    FLAG_STRT_206DL,
    FLAG_UNIQUE_IP,
    FSIZE_KB,
    MEGABYTE,
)


def first_occurrence(
    df: DataFrame,
    keys: tuple[str, ...] = ("ip_hash", "key_hash"),
    order: tuple[str, ...] = ("conv_id", "turn_idx"),
    only_when: Column | None = None,
    out: str = "is_first",
) -> DataFrame:
    """ST1: exact first-occurrence marker under stable turn ordering.

    ``only_when``: restrict the ranked population (the reference only
    probes the set on 206-START rows); excluded rows get False.
    """
    if only_when is None:
        w = Window.partitionBy(*keys).orderBy(*order)
        return df.withColumn(out, F.row_number().over(w) == 1)
    only_when = F.coalesce(only_when, F.lit(False))
    # rank only the eligible subpopulation: partition by (keys, eligible)
    w = Window.partitionBy(
        *[F.col(k) for k in keys], only_when.cast("int")
    ).orderBy(*order)
    return df.withColumn(
        out, only_when & (F.row_number().over(w) == 1)
    )


def chunk_flags(
    http_code: Column,
    byte_start: Column,
    byte_end: Column,
    object_size: Column,
    is_first: Column,
) -> Column:
    """ST2 set_flags as pure column logic (src/s3parser.c:593-626)."""
    end_check = F.when(object_size < MEGABYTE, F.lit(FSIZE_KB)).otherwise(
        F.lit(MEGABYTE)
    )
    # objects smaller than end_check: the reference's size_t subtraction
    # underflows to a huge value, so its END check can never fire
    # (src/s3parser.c:608-616). Signed column math would instead give a
    # negative threshold and flag EVERY such row END — guard explicitly
    # to keep the reference's observable behavior.
    is_end = (
        byte_end.isNotNull()
        & (object_size >= end_check)
        & (byte_end >= (object_size - end_check))
    )
    is_start = byte_start.isNotNull() & (byte_start == 0)
    start_flags = F.lit(FLAG_STRT_206DL) + F.when(
        is_first, F.lit(FLAG_UNIQUE_IP)
    ).otherwise(F.lit(0))
    return (
        F.when(http_code != 206, F.lit(0))
        .when(is_end, F.lit(FLAG_END_206DL))
        .when(is_start, start_flags)
        .otherwise(F.lit(FLAG_MID_206DL))
        .cast("int")
    )


def with_flags(df: DataFrame) -> DataFrame:
    """Attach the full flags column: ST1 restricted to 206-START rows,
    then ST2 precedence (END overwrites START|UNIQUE)."""
    eligible = (F.col("http_code") == 206) & (F.col("byte_start") == 0)
    df = first_occurrence(df, only_when=eligible, out="_is_first")
    df = df.withColumn(
        "flags",
        chunk_flags(
            F.col("http_code"),
            F.col("byte_start"),
            F.col("byte_end"),
            F.col("object_size"),
            F.col("_is_first"),
        ),
    )
    return df.drop("_is_first")
