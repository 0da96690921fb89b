"""Vector math over embedding columns (array<float>).

Everything is built from fold-left ``aggregate`` so summation order is
fixed (index order) — the DuckDB oracle uses ``list_reduce`` with the
same order, making double-precision results reproducible across
engines. Inputs are cast element-wise to double before any multiply.

The hot path stays JVM-side (higher-order functions, codegen); one
Pandas-UDF/numpy form, :func:`cos_x1m_pairs`, serves the O(N²) pair
joins: it cuts the interpreted lambda's per-pair overhead and keeps the
fold-left summation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """fold-left dot product in index order."""
    prods = F.zip_with(as_double(a), as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_pre(a: Column, b: Column) -> Column:
    """``dot`` for operands ALREADY cast array<double> (``as_double``
    applied once per row). Identical FP results — float→double widening
    then multiply is the same either way — but inside an O(N²) pairwise
    join the per-pair ``transform`` casts of :func:`dot` allocate two
    fresh arrays per pair; pre-casting moves that to once per row
    (measured 40 s → a few s on the 2k-vector brute-force near-dup)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_pre(a: Column) -> Column:
    """``norm`` for an already-double array (see :func:`dot_pre`)."""
    return F.sqrt(dot_pre(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_x1m(a: Column, b: Column) -> Column:
    """cosine scaled ×1e6 and floored → integer; cross-engine stable."""
    return F.floor(cosine(a, b) * 1_000_000).cast("long")


@pandas_udf(T.LongType())
def _cos_x1m_pairs_udf(
    a: pd.Series, b: pd.Series, na: pd.Series, nb: pd.Series
) -> pd.Series:
    """floor(dot(a,b)/(na·nb)·1e6) for PAIR rows, numpy-vectorized
    ACROSS pairs with the summation loop over the dimension axis —
    every FP op happens in the same index order as the fold-left HOF
    form, so results are bit-identical to ``dot_pre``/``cosine_x1m``
    (pairwise/BLAS summation would differ in the last ulp and break the
    cross-engine oracle). ~8× less per-pair overhead than the
    interpreted HOF lambda inside O(N²) joins.

    NULL/ragged rows yield NULL, matching the HOF zip_with/aggregate
    NULL propagation (ADVICE r3 #3: one NULL embedding must not fail
    the whole job) — callers' threshold filters then drop them exactly
    as they dropped NULL cosines before."""
    n = len(a)
    if n == 0:
        return pd.Series([], dtype="Int64")
    al, bl = a.tolist(), b.tolist()
    nav = na.to_numpy(dtype=np.float64, na_value=np.nan)
    nbv = nb.to_numpy(dtype=np.float64, na_value=np.nan)
    out = np.full(n, np.nan)
    # group rows by (shared) vector length so each group is one dense
    # matrix; a/b length mismatch → NULL (zip_with pads with NULL → the
    # fold returns NULL)
    by_len: dict[int, list[int]] = {}
    for i in range(n):
        x, y = al[i], bl[i]
        if x is None or y is None or len(x) != len(y):
            continue
        by_len.setdefault(len(x), []).append(i)
    for dim, idx in by_len.items():
        ii = np.array(idx, dtype=np.intp)
        av = np.array([al[i] for i in idx], dtype=np.float64)
        bv = np.array([bl[i] for i in idx], dtype=np.float64)
        acc = np.zeros(len(idx), dtype=np.float64)
        for j in range(dim):  # fold-left over the dim axis
            acc = acc + av[:, j] * bv[:, j]
        out[ii] = np.floor(acc / (nav[ii] * nbv[ii]) * 1_000_000)
    out[~np.isfinite(out)] = np.nan  # 0-norm / NULL norm → NULL
    return pd.Series(out).astype("Int64")


def cos_x1m_pairs(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """vectorized pairwise integer cosine (see ``_cos_x1m_pairs_udf``);
    operands must be array<double> with precomputed norms."""
    return _cos_x1m_pairs_udf(a, b, na, nb)


def hyperplane_bits(vec: Column, n_planes: int, dim: int) -> Column:
    """deterministic random-hyperplane LSH signature → integer bucket.

    Plane weights are exact rationals derived from integer hashing
    (``((k*2654435761 + j*40503) mod 2001) - 1000``) so Spark and the
    DuckDB oracle compute bit-identical signs — no transcendental
    functions whose last-ulp behavior could differ across engines.
    """
    v = as_double(vec)
    bits = []
    for k in range(n_planes):
        # ONE parsed SQL literal per plane, not dim F.lit().cast()
        # py4j calls (n_planes × dim = 256 Column calls cost ~0.4 s of
        # driver time per call site, r7) — identical plan literal
        weights = F.expr(
            "array("
            + ",".join(
                f"CAST({((k * 2654435761 + j * 40503) % 2001) - 1000}"
                " AS DOUBLE)"
                for j in range(dim)
            )
            + ")"
        )
        prods = F.zip_with(v, weights, lambda x, w: x * w)
        s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(s > 0, F.lit(1 << k)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


def quantize_vec(col: Column | str) -> tuple[Column, Column]:
    """symmetric per-vector int8 scalar quantization → (q, scale):
    ``q_i = floor(v_i/scale + 0.5)`` with ``scale = max|v|/127``.

    Cross-engine exact: max/divide/floor are IEEE-deterministic and the
    explicit floor-half-up avoids engine-specific ROUND modes. The
    quantized values feed integer dot products (exact arithmetic), so
    quantized cosine needs no float summation at all until the final
    normalization. Catalyst note: the scale is threaded into the
    per-element lambda via ``zip_with(v, array_repeat(scale, d), …)`` —
    referencing a computed scalar directly inside a ``transform``
    lambda re-inlines (and re-evaluates) the whole max-aggregate per
    element (the dedup._sliding_zip trap, scalar edition).

    Zero vectors quantize to all-zero with scale 0.
    """
    v = as_double(col)
    mx = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = mx / F.lit(127.0)
    q = F.when(
        mx == 0.0, F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.zip_with(
            v,
            F.array_repeat(scale, F.size(v)),
            lambda x, s: F.floor(x / s + F.lit(0.5)).cast("long"),
        )
    )
    return q, scale
