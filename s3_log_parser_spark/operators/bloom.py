"""Distributed Bloom filter as a tiny DataFrame — a membership
pre-filter for dedup-style probes (driver query
``bloom_prefilter_stats``).

Spark 4.1 does not expose ``bloom_filter_agg``/``might_contain`` in the
public function registry (they are internal to AQE runtime filtering),
so the filter is built from first principles as relational algebra:

- **build** — each key contributes ``k`` bit positions (double hashing,
  Kirsch–Mitzenmacher: ``pos_i = (h1 + i·h2) mod m``); positions fold
  into 32-bit words via ``groupBy(word_idx).agg(bit_or(mask))``. The
  result is a DataFrame of at most ``m/32`` rows — for the default
  m = 2^23 bits that is ≤ 256 Ki rows ≈ 4 MiB, derived from a corpus of
  ANY size with one map-side-combined aggregate.
- **probe** — ``k`` broadcast left joins of the bitmap against each
  row's word indices, then a row-local bit test. NO shuffle of the
  probed side: at 100 TB the daily batch streams past a broadcast
  bitmap, and only rows the filter says *maybe* pay the exact
  anti-join against the full history table. False positives cost an
  extra exact check; false negatives are impossible — exactness of the
  surrounding dedup is preserved.

32-bit words (not 64) so masks stay positive BIGINTs in both engines:
Spark ``shiftleft(1L, 63)`` wraps to the sign bit and DuckDB ``<<``
overflow semantics differ — ``1 << 31`` is the widest shift both agree
on as a positive value (memory: F.lit(1 << 63) overflows).

The hash family is DJB2 (double hashing over ``key`` and
``key || '#2'``), the cross-engine parity family: the DuckDB oracle
reproduces the bitmap bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import djb2_expr

DEFAULT_M_BITS = 1 << 23
DEFAULT_K_HASHES = 5


def _hash_pair(key: Column, m_bits: int) -> tuple[Column, Column]:
    """(h1, h2) for double hashing, both non-negative and pre-reduced
    so ``h1 + i*h2`` can never overflow int64 under ANSI mode. h2 is
    forced odd — with any m it keeps the k probes distinct for small k
    (and cycles the full ring when m is a power of two)."""
    h1 = F.pmod(djb2_expr(key), F.lit(m_bits))
    h2 = F.pmod(djb2_expr(F.concat(key, F.lit("#2"))), F.lit(m_bits))
    return h1, h2.bitwiseOR(F.lit(1))


def _position(h1: Column, h2: Column, i: int, m_bits: int) -> Column:
    return F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """fold a key column into a bitmap DataFrame ``(word_idx, word)``.

    One explode (k rows per key, map-side combined by the partial
    bit_or) and one aggregate on ≤ m/32 uniform keys — the build cost
    is a single pass over the corpus regardless of m."""
    h1, h2 = _hash_pair(F.col(key_col), m_bits)
    pos = F.explode(
        F.array(*[_position(h1, h2, i, m_bits) for i in range(k_hashes)])
    ).alias("_pos")
    # the pyspark wrapper of shiftleft only takes a LITERAL shift;
    # per-row shift counts need the SQL form over a named column
    return (
        df.select(pos)
        .select(
            F.shiftright(F.col("_pos"), 5).alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as long), cast(pmod(_pos, 32) as int))"
            ).alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    bitmap_df: DataFrame,
    key_col: str,
    m_bits: int = DEFAULT_M_BITS,
    k_hashes: int = DEFAULT_K_HASHES,
) -> DataFrame:
    """add ``bloom_maybe`` (boolean): could ``key_col`` be in the filter?

    k broadcast LEFT joins on word_idx (one reused broadcast exchange)
    + a row-local conjunction of bit tests — the probed frame is never
    shuffled, so this composes with any upstream plan for free. A word
    absent from the bitmap is all-zeros → coalesce(word, 0).

    Each of the k joins embeds its own copy of ``bitmap_df``'s plan;
    pass a MATERIALIZED bitmap (a written bitmap table, or
    ``.localCheckpoint()`` when just built) so the build isn't
    re-executed k times."""
    h1_c, h2_c = _hash_pair(F.col(key_col), m_bits)
    out = df.withColumn("_bh1", h1_c).withColumn("_bh2", h2_c)
    checks = []
    for i in range(k_hashes):
        pos = _position(F.col("_bh1"), F.col("_bh2"), i, m_bits)
        bm = F.broadcast(
            bitmap_df.select(
                F.col("word_idx").alias(f"_bw_idx{i}"),
                F.col("word").alias(f"_bw{i}"),
            )
        )
        out = (
            out.withColumn(f"_bp{i}", F.shiftright(pos, 5))
            .withColumn(
                f"_bm{i}",
                F.expr(
                    "shiftleft(cast(1 as long), "
                    f"cast(pmod(_bh1 + {i} * _bh2, {m_bits}) % 32 as int))"
                ),
            )
            .join(bm, F.col(f"_bp{i}") == F.col(f"_bw_idx{i}"), "left")
        )
        checks.append(
            F.coalesce(F.col(f"_bw{i}"), F.lit(0).cast("long"))
            .bitwiseAND(F.col(f"_bm{i}")) == F.col(f"_bm{i}")
        )
    maybe = checks[0]
    for c in checks[1:]:
        maybe = maybe & c
    drop = (
        ["_bh1", "_bh2"]
        + [f"_bp{i}" for i in range(k_hashes)]
        + [f"_bm{i}" for i in range(k_hashes)]
        + [f"_bw_idx{i}" for i in range(k_hashes)]
        + [f"_bw{i}" for i in range(k_hashes)]
    )
    return out.withColumn("bloom_maybe", maybe).drop(*drop)
