"""Mergeable cardinality / frequency sketches as tiny DataFrames —
the rollup primitives a 100 TB log store actually persists.

The reference keeps exact in-memory hash sets (src/s3parser.c:629-659);
at cluster scale the idiom inverts: scan raw data ONCE per day, persist
a few-KB sketch per (day, dimension), and answer "unique users last
quarter" / "top talkers this month" by merging sketches — never
re-scanning raw bytes. Spark 4.1 ships ``hll_sketch_agg`` (Apache
DataSketches), but its binary registers can't be reproduced by an
independent engine; these sketches are built from first principles as
relational algebra so the DuckDB oracle can rebuild them bit-for-bit:

- **HyperLogLog** (Flajolet et al. 2007): register = max number of
  leading zeros (+1) of the hashed suffix per bucket. Build is ONE
  map-side-combined ``groupBy(bucket).max`` (≤ m rows out of any input
  size); merge is ``max`` per bucket — associative, commutative,
  idempotent, so daily sketches roll up to any window.
- **Count-min** (Cormode & Muthukrishnan 2005): depth×width counter
  grid; point estimate = min over rows. Build is one
  ``groupBy((row, bucket)).count`` over a ``posexplode`` of depth
  bucket ids; merge is element-wise ``sum``. Estimates never
  undercount.

Hash families mirror the dedup suite: ``mode="djb2"`` is the
cross-engine parity family (DuckDB rebuilds every register), and
``mode="xxhash64"`` the 64-bit codegen production family.

Cross-engine exactness: everything until the final HLL estimate is
integer algebra (``2^(R-rank)`` register weights are exact BIGINTs;
Spark `div` ↔ DuckDB `//`). The estimate itself is ONE double division
of a Python-precomputed literal by the integer harmonic sum, floored at
×1000 — identical IEEE ops in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import djb2_expr
from .sampling import SHUFFLE_SQ_P, SPLIT_MIX_A, SPLIT_MIX_B, SPLIT_MIX_P

HLL_P = 9  # 512 registers; standard error 1.04/sqrt(512) ~= 4.6%
HLL_BITS = 31  # the mixed parity hash is 31-bit (squaring mod 2^31-1)
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _hash31(key: Column, mode: str) -> Column:
    """Uniform hash of a string key into [0, 2^31-1).

    Raw DJB2 is UNUSABLE here: keys differing only in trailing chars
    (sequential ids) land in a few contiguous arcs, so the high bits —
    HLL's leading-zero source — take a handful of values and the
    estimate collapses (measured: 5000 distinct ``key-N`` → est 1614).
    The parity family therefore reuses the shuffle-key scrambler
    proven in sampling.py: ``((A·djb2+B) mod P mod M)² mod M`` with
    M = 2^31-1 — affine mix to break the arcs, squaring for
    nonlinearity, exact in DuckDB. ``mode="xxhash64"`` slices 31 bits
    of the codegen production hash."""
    if mode == "djb2":
        b = F.pmod(
            djb2_expr(key) * F.lit(SPLIT_MIX_A) + F.lit(SPLIT_MIX_B),
            F.lit(SPLIT_MIX_P),
        )
        m = F.pmod(b, F.lit(SHUFFLE_SQ_P))
        return F.pmod(m * m, F.lit(SHUFFLE_SQ_P))
    if mode == "xxhash64":
        # arithmetic shiftright on a positive masked value
        return F.shiftright(
            F.xxhash64(key).bitwiseAND(F.lit((1 << 62) - 1)), 31
        )
    raise ValueError(f"unknown hash mode {mode!r}")


def hll_constant(p: int = HLL_P) -> float:
    """α·m²·2^R as ONE python double — the estimator numerator. Both
    the Spark plan and the DuckDB oracle inline ``repr()`` of this
    exact value, so the estimate is a single identical IEEE division
    in each engine (structural parity, not empirical)."""
    m = 1 << p
    R = HLL_BITS - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << R)


def hll_rank_cols(key: Column, mode: str = "djb2") -> tuple[Column, Column]:
    """(bucket, rank) of one key: low ``HLL_P`` hash bits pick the
    register, the remaining ``HLL_BITS-HLL_P`` bits' leading-zero count
    (+1) is the rank. ``length(bin(w))`` is the exact bit length — no
    float log2, whose floor misrounds at power-of-two boundaries.

    The hash expression appears 6× in the optimized Project (bucket,
    the w=0 guard, and the bin() argument each re-inline it — project
    collapse undoes any manual CSE). That is fine HERE, unlike the
    MinHash K-column case: all six copies are canonically IDENTICAL,
    so whole-stage codegen's runtime subexpression elimination computes
    the fold once per row (measured: hll_sketch == one bare fold,
    0.71 s at sf0.1). MinHash's K copies were K *different*
    expressions — nothing to eliminate — hence its explode rewrite."""
    h = _hash31(key, mode)
    suffix_bits = HLL_BITS - HLL_P
    bucket = (h % F.lit(1 << HLL_P)).cast("int")
    # arithmetic shiftright == div for non-negative h, power-of-two m
    w = F.shiftright(h, HLL_P)
    rank = F.when(w == 0, F.lit(suffix_bits + 1)).otherwise(
        F.lit(suffix_bits + 1) - F.length(F.bin(w))
    ).cast("int")
    return bucket, rank


def hll_sketch(df: DataFrame, key: Column | str, mode: str = "djb2") -> DataFrame:
    """``(bucket int, r int)`` register table, ≤ 2^``HLL_P`` rows from any
    input size (absent buckets implicitly rank 0). One scan, one
    map-side-combined aggregate."""
    k = F.col(key) if isinstance(key, str) else key
    bucket, rank = hll_rank_cols(k, mode)
    return (
        df.select(bucket.alias("bucket"), rank.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union of registers: max per bucket. Associative + idempotent —
    re-merging an already-counted day changes nothing."""
    it = iter(sketches)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("bucket").agg(F.max("r").alias("r"))


def hll_estimate(sketch: DataFrame, correction: bool = True) -> DataFrame:
    """One row: ``(n_registers, z_int, est_x1000)`` of a 2^``HLL_P``
    register table.

    ``z_int = Σ 2^(R - r_j)`` over all m registers (absent → 2^R) is an
    exact BIGINT; the raw estimate ``α·m²·2^R / z_int`` is one double
    division of a precomputed literal. ``correction=True`` applies the
    linear-counting small-range branch (E ≤ 2.5m with empty registers →
    m·ln(m/V)); its ``ln`` is libm-dependent across engines, so
    cross-engine oracles should pass ``correction=False`` (raw mode)
    and verify on inputs past the small range, where raw is the
    estimator of record anyway."""
    m = 1 << HLL_P
    R = HLL_BITS - HLL_P + 1
    num = hll_constant()
    agg = sketch.agg(
        F.count("*").cast("long").alias("n_registers"),
        (
            # shiftleft's numBits param is int-only in the DSL
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {R} - r)"))
            + (F.lit(m) - F.count("*")) * F.lit(1 << R)
        ).cast("long").alias("z_int"),
    )
    raw = F.lit(num) / F.col("z_int").cast("double")
    est = raw
    if correction:
        v_empty = F.lit(m) - F.col("n_registers")
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (v_empty > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double")),
        ).otherwise(raw)
    return agg.select(
        "n_registers",
        "z_int",
        F.floor(est * 1000).cast("long").alias("est_x1000"),
    )


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------


def _cms_bucket(key: Column, row: int, width: int, mode: str) -> Column:
    """Row ``row``'s bucket for a key: an independent hash per grid row
    via a row-tag prefix (parity family) / seed column (production).
    The parity family applies the split affine mix before the modulus —
    raw ``djb2 % width`` clusters sequential-id keys (same failure
    split_bucket fixed; see _hash31)."""
    if mode == "djb2":
        h = djb2_expr(F.concat(F.lit(f"{row}:"), key))
        mixed = F.pmod(
            h * F.lit(SPLIT_MIX_A) + F.lit(SPLIT_MIX_B), F.lit(SPLIT_MIX_P)
        )
        return F.pmod(mixed, F.lit(width)).cast("int")
    return F.pmod(F.xxhash64(F.lit(row), key), F.lit(width)).cast("int")


def cms_sketch(
    df: DataFrame,
    key: Column | str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    mode: str = "djb2",
) -> DataFrame:
    """``(row int, bucket int, n long)`` counter grid, ≤ depth·width
    rows from any input. posexplode of the depth bucket ids + ONE
    map-side-combined count — the shuffle carries at most
    depth·width rows per task, independent of input size."""
    k = F.col(key) if isinstance(key, str) else key
    buckets = F.array(*[_cms_bucket(k, i, width, mode) for i in range(depth)])
    return (
        df.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("n"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Element-wise sum — counters are linear, so daily grids add."""
    it = iter(sketches)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("row", "bucket").agg(F.sum("n").cast("long").alias("n"))


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    mode: str = "djb2",
) -> DataFrame:
    """Point estimates for a key table: min over the depth counters.
    The grid (≤ depth·width rows) broadcasts; the key side never
    shuffles. A bucket missing from the grid means nothing ever hashed
    there → 0. Guarantee: ``cms_n >= true count`` (never under)."""
    k = F.col(key)
    probes = keys.select(
        key,
        F.posexplode(
            F.array(*[_cms_bucket(k, i, width, mode) for i in range(depth)])
        ).alias("row", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce("n", F.lit(0))).cast("long").alias("cms_n"))
    )
