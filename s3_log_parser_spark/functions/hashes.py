"""DJB2 hash kernel — the one genuinely custom scalar in the rebuild.

The reference dictionary-encodes strings (ip / key / show name) to
``uint32`` with DJB2 (``/root/reference/src/s3parser.c:461-477``:
``h = 5381; h = h*33 + byte`` with uint32 wrap; NULL → 5381). No Spark
builtin matches (``hash`` is Murmur3, ``xxhash64``/``crc32`` differ), so
the kernel comes in three forms, each with its own job:

- :func:`djb2_py`    — pure-Python oracle (byte-exact, test fixture).
- :func:`djb2_numpy` — vectorized byte-exact form over Arrow buffers;
  the production hash inside the Arrow parse and shingle kernels
  (``functions/parsing_arrow.py``, ``functions/shingles_arrow.py``),
  pinned against :func:`djb2_py`.
- :func:`djb2_expr`  — pure-Catalyst expression via higher-order
  ``aggregate`` over ``split(col, '')``. Codepoint-based, so identical
  to the byte form on ASCII (all reference inputs are ASCII); the
  hash of the SQL reference parse and the DuckDB-oracle-matching form.

Hash domain: returned as LongType holding the uint32 value (Spark has
no unsigned types; two's-complement IntegerType would flip sign on half
the domain — SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import DJB2_SEED

_U32 = 0xFFFFFFFF


def djb2_py(s: str | bytes | None) -> int:
    """Byte-exact pure-Python DJB2; mirrors src/s3parser.c:461-477."""
    if s is None:
        return DJB2_SEED
    if isinstance(s, str):
        s = s.encode("utf-8")
    h = DJB2_SEED
    for b in s:
        h = (h * 33 + b) & _U32
    return h


def djb2_numpy(arr) -> "object":
    """Vectorized byte-exact DJB2 over a pyarrow String/LargeString
    array — O(total bytes) of numpy ops instead of a Python loop per
    string. Works directly on the Arrow buffers (offsets + uint8 data),
    iterating over CHARACTER POSITIONS so each step is one vectorized
    multiply-add over all strings still longer than ``p``. NULL → 5381.

    Used on dictionary arrays in the Arrow parse stage: the old
    per-value Python loop was O(distinct) and degenerated to per-row
    Python on high-cardinality columns (conv_id/key at real scale).
    Returns an int64 numpy array.
    """
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    out = np.full(n, DJB2_SEED, dtype=np.uint64)
    if n == 0:
        return out.astype(np.int64)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    starts, lens = offs[:-1], offs[1:] - offs[:-1]
    mask32 = np.uint64(0xFFFFFFFF)
    active = np.flatnonzero(lens > 0)
    p = 0
    while active.size:
        idx = starts[active] + p
        out[active] = (out[active] * np.uint64(33) + data[idx]) & mask32
        p += 1
        active = active[lens[active] > p]
    if arr.null_count:
        out[np.asarray(arr.is_null(), dtype=bool)] = DJB2_SEED
    return out.astype(np.int64)


def djb2_expr(col: Column | str) -> Column:
    """Catalyst-only DJB2 over codepoints (== bytes for ASCII).

    NULL → 5381 matching the reference's NULL guard.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, ""), lambda x: x != F.lit(""))
    h = F.aggregate(
        chars,
        F.lit(DJB2_SEED).cast("long"),
        lambda acc, ch: (acc * F.lit(33) + F.ascii(ch)) % F.lit(1 << 32),
    )
    return F.when(c.isNull(), F.lit(DJB2_SEED)).otherwise(h)


def djb2_oracle_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same DJB2 over ``expr``."""
    return (
        "list_reduce(list_prepend(5381::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ord(c)::BIGINT)), "
        "(a, b) -> (a * 33 + b) % 4294967296)"
    )


def first_path_segment(col: Column | str) -> Column:
    """P7: '/show/ep.mp3' → 'show' (src/s3parser.c:420-451)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^/?([^/]*)", 1)
