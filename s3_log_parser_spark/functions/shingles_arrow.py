"""Vectorized Arrow/numpy shingle-hash kernel (djb2 parity family).

The pure-Catalyst shingle kernel (``operators.dedup.shingle_hashes``)
is a higher-order expression chain — per character it allocates a
one-char string (``split(col, '')``), evaluates ``ascii`` and a
``pmod``, and per shingle it runs ``zip_with`` array allocations.
Measured r7 at sf0.1 (5,000 docs, 270k tokens): 2.1 s for the n=3
frame and 4.3 s for the n=8 frame per evaluation. This module computes
the SAME values (bit-for-bit, pinned by tests) as one ``mapInArrow``
stage whose inner loop is numpy over the flattened token stream —
guide §4.2's "hand whole batches to vectorized native code" shape.
The stage is map-side only (no shuffle, no cardinality change) and is
projected to exactly the needed columns before the Python boundary.

Semantics reproduced exactly:

- tokenization: Spark ``split(trim(coalesce(text,'')), '\\s+')`` with
  empty pieces dropped. Java's ``\\s`` is ASCII-only, so the Python
  side splits with ``re.ASCII``; leading/trailing separators only ever
  produce empty pieces, which are filtered just like the Catalyst form
  (``trim`` is not needed for token equality).
- token hash: DJB2 over CODEPOINTS (``djb2_expr`` parity — equal to
  the byte fold for ASCII; the rare non-ASCII token takes a per-token
  Python fallback with the same codepoint fold).
- shingle hash: ``h = 5381; h = (h*33 + token_digest) mod 2^32`` over
  each length-``n`` token window; rows with < n tokens fold over all
  their tokens (empty text → the bare seed).
- distinct with FIRST-OCCURRENCE order, matching ``array_distinct``.

Every shingle consumer (dedup, importance buckets, decontamination)
runs this kernel. ``operators.dedup.shingle_hashes`` is the Catalyst
form it is pinned against.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DJB2_SEED

_WS = re.compile(r"\s+", re.ASCII)
_M32 = 0xFFFFFFFF


# --- XXH64 (the production shingle family, r7) -------------------------
# Spark's ``xxhash64`` is standard XXH64: strings hash their UTF-8
# bytes with seed 42; multi-arg calls chain ``h = XXH64(le64(col), h)``
# over the 8-byte little-endian value. Both forms are reproduced here
# exactly (pinned by tests against F.xxhash64): the per-long step as
# vectorized numpy uint64 ops, the per-token string hash in pure
# Python over the DISTINCT token table (dictionary-encoded, so cost is
# O(vocab) not O(tokens)).
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
_XXH_SEED = 42


def _xxh64_long_vec(l, seed):
    """vectorized XXH64 of int64 bit patterns (uint64 in, uint64 out);
    ``seed`` may be a scalar or an aligned ndarray."""
    import numpy as np

    P1, P2 = np.uint64(_XP1), np.uint64(_XP2)
    P3, P4, P5 = np.uint64(_XP3), np.uint64(_XP4), np.uint64(_XP5)

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    acc = np.asarray(seed, dtype=np.uint64) + P5 + np.uint64(8)
    k1 = rotl(np.asarray(l, dtype=np.uint64) * P2, 31) * P1
    acc = rotl(acc ^ k1, 27) * P1 + P4
    acc ^= acc >> np.uint64(33)
    acc *= P2
    acc ^= acc >> np.uint64(29)
    acc *= P3
    acc ^= acc >> np.uint64(32)
    return acc


def _xxh64_long_py(l: int, seed: int) -> int:
    """scalar XXH64 of one 8-byte long (python ints, for short rows)."""
    def rl(x, r):
        return ((x << r) | (x >> (64 - r))) & _M64

    acc = (seed + _XP5 + 8) & _M64
    k1 = (rl((l * _XP2) & _M64, 31) * _XP1) & _M64
    acc = (rl(acc ^ k1, 27) * _XP1 + _XP4) & _M64
    acc ^= acc >> 33
    acc = (acc * _XP2) & _M64
    acc ^= acc >> 29
    acc = (acc * _XP3) & _M64
    acc ^= acc >> 32
    return acc


def _xxh64_bytes(data: bytes) -> int:
    """full XXH64 (seed ``_XXH_SEED``) over a byte string (python ints —
    run per DISTINCT token only)."""
    import struct

    def rl(x, r):
        return ((x << r) | (x >> (64 - r))) & _M64

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (_XXH_SEED + _XP1 + _XP2) & _M64
        v2 = (_XXH_SEED + _XP2) & _M64
        v3 = _XXH_SEED & _M64
        v4 = (_XXH_SEED - _XP1) & _M64
        while i + 32 <= n:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (rl((v1 + k1 * _XP2) & _M64, 31) * _XP1) & _M64
            v2 = (rl((v2 + k2 * _XP2) & _M64, 31) * _XP1) & _M64
            v3 = (rl((v3 + k3 * _XP2) & _M64, 31) * _XP1) & _M64
            v4 = (rl((v4 + k4 * _XP2) & _M64, 31) * _XP1) & _M64
            i += 32
        acc = (rl(v1, 1) + rl(v2, 7) + rl(v3, 12) + rl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            acc ^= (rl((v * _XP2) & _M64, 31) * _XP1) & _M64
            acc = (acc * _XP1 + _XP4) & _M64
    else:
        acc = (_XXH_SEED + _XP5) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        acc ^= (rl((k * _XP2) & _M64, 31) * _XP1) & _M64
        acc = (rl(acc, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        acc ^= (k * _XP1) & _M64
        acc = (rl(acc, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * _XP5) & _M64
        acc = (rl(acc, 11) * _XP1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _XP2) & _M64
    acc ^= acc >> 29
    acc = (acc * _XP3) & _M64
    acc ^= acc >> 32
    return acc


def _djb2_codepoints(s: str) -> int:
    h = DJB2_SEED
    for ch in s:
        h = (h * 33 + ord(ch)) & _M32
    return h


def _hash_distinct_tokens(toks: "list[str]", mode: str = "djb2"):
    """dict token → hash. djb2: codepoint fold, vectorized over the
    ASCII tokens (one numpy multiply-add per character position across
    all tokens), Python fallback per non-ASCII token. xxhash64: full
    XXH64 over UTF-8 bytes, per distinct token (uint64 bit pattern)."""
    import numpy as np

    if not toks:
        return {}
    if mode == "xxhash64":
        return {t: _xxh64_bytes(t.encode("utf-8")) for t in toks}
    ascii_toks = [t for t in toks if t.isascii()]
    table: dict[str, int] = {}
    if ascii_toks:
        import pyarrow as pa

        from .hashes import djb2_numpy

        hs = djb2_numpy(pa.array(ascii_toks, type=pa.string()))
        table.update(zip(ascii_toks, (int(v) for v in hs)))
    for t in toks:
        if t not in table:
            table[t] = _djb2_codepoints(t)
    return table


def _shingle_rows(texts: "list[str | None]", n: int, mode: str = "djb2"):
    """per-row first-occurrence-distinct shingle hash arrays.

    Returns (values int64 ndarray, offsets int64 ndarray) in Arrow
    list layout. ``mode="xxhash64"`` runs the production fold:
    ``first(d) = X(d, X(5381, 42))``, ``combine(acc, d) = X(d,
    X(acc, 42))`` with X the per-long XXH64 step — exactly Spark's
    ``xxhash64(seed, d)`` / ``xxhash64(acc, d)`` chaining."""
    import numpy as np

    th_flat, lens = _tokenize_and_hash(texts, mode)
    row_start = np.concatenate(([0], np.cumsum(lens)))

    # windows: rows with >= n tokens contribute len-n+1 shingles
    nwin = np.maximum(lens - (n - 1), 0)
    # rows with 0 < len < n fold over ALL their tokens; len == 0 rows
    # get the bare seed — both are the "short" path below
    short = lens < n

    # vectorized window fold
    win_rows = np.repeat(np.arange(len(lens)), nwin)
    if len(win_rows):
        first_win = np.concatenate(([0], np.cumsum(nwin)))[:-1]
        win_start = (
            row_start[win_rows]
            + (np.arange(len(win_rows)) - first_win[win_rows])
        )
        if mode == "xxhash64":
            c0 = np.uint64(_xxh64_long_py(DJB2_SEED, _XXH_SEED))
            acc = _xxh64_long_vec(th_flat[win_start], c0)
            for k in range(1, n):
                acc = _xxh64_long_vec(
                    th_flat[win_start + k],
                    _xxh64_long_vec(acc, np.uint64(_XXH_SEED)),
                )
        else:
            acc = np.full(len(win_rows), DJB2_SEED, dtype=np.uint64)
            for k in range(n):
                acc = (acc * np.uint64(33) + th_flat[win_start + k]) & np.uint64(
                    _M32
                )
    else:
        acc = np.empty(0, dtype=np.uint64)

    # assemble per-row arrays with first-occurrence distinct
    out_vals: list[np.ndarray] = []
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    win_off = np.concatenate(([0], np.cumsum(nwin)))
    for i in range(len(lens)):
        if short[i]:
            h = DJB2_SEED
            if mode == "xxhash64":
                for j in range(row_start[i], row_start[i] + lens[i]):
                    h = _xxh64_long_py(
                        int(th_flat[j]), _xxh64_long_py(h, _XXH_SEED)
                    )
            else:
                for j in range(row_start[i], row_start[i] + lens[i]):
                    h = (h * 33 + int(th_flat[j])) & _M32
            arr = np.array([h], dtype=np.uint64).view(np.int64)
        else:
            # .view, not .astype: xxhash64 values use the full uint64
            # range and astype past 2^63 is not a bit reinterpretation
            a = np.ascontiguousarray(
                acc[win_off[i] : win_off[i + 1]]
            ).view(np.int64)
            _, idx = np.unique(a, return_index=True)
            arr = a[np.sort(idx)]
        out_vals.append(arr)
        offsets[i + 1] = offsets[i] + len(arr)
    values = (
        np.concatenate(out_vals) if out_vals
        else np.empty(0, dtype=np.int64)
    )
    return values, offsets


def _tokenize_and_hash(texts: "list[str | None]", mode: str = "djb2"):
    """flat per-occurrence token hashes + row lengths (shared tokenizer
    + distinct-token hash table)."""
    import numpy as np

    row_toks: list[list[str]] = []
    distinct: dict[str, None] = {}
    for s in texts:
        tk = [t for t in _WS.split(s)] if s else []
        tk = [t for t in tk if t]
        row_toks.append(tk)
        for t in tk:
            if t not in distinct:
                distinct[t] = None
    table = _hash_distinct_tokens(list(distinct), mode)
    lens = np.fromiter(
        (len(tk) for tk in row_toks), dtype=np.int64, count=len(row_toks)
    )
    th_flat = np.fromiter(
        (table[t] for tk in row_toks for t in tk),
        dtype=np.uint64,
        count=int(lens.sum()),
    )
    return th_flat, lens


_MINHASH_P = 4294967311  # smallest prime > 2^32 (dedup.MINHASH_P)


def _simhash_rows(texts: "list[str | None]", bits: int):
    """per-row B-bit SimHash over whitespace-token DJB2 digests —
    integer-exact mirror of the ``operators.dedup.simhash`` expression
    on rows with at least one token: bit j set
    when Σ_tokens (2·(((2j+1)·h + j²+7) mod P mod 2) − 1) > 0; bit 63
    is the two's-complement sign bit (uint64 build, int64 view)."""
    import numpy as np

    th_flat, lens = _tokenize_and_hash(texts)
    starts = np.concatenate(([0], np.cumsum(lens)))
    out = np.zeros(len(lens), dtype=np.uint64)
    P = np.uint64(_MINHASH_P)
    for j in range(bits):
        g = (
            (np.uint64(2 * j + 1) * th_flat + np.uint64(j * j + 7)) % P
        ) % np.uint64(2)
        contrib = (g.astype(np.int64) * 2 - 1)
        c = np.concatenate(([0], np.cumsum(contrib)))
        w = c[starts[1:]] - c[starts[:-1]]
        out |= np.where(w > 0, np.uint64(1) << np.uint64(j), np.uint64(0))
    # zero-token rows have no tokens to vote on any bit, so they get
    # no signature: flag them for the caller to drop
    return out.astype(np.int64), lens > 0


def with_simhash(
    df: DataFrame,
    text_col: str,
    bits: int = 16,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``df`` → ``(keep..., simhash long)`` via one row-local
    mapInArrow stage (no shuffle; values identical to the ``simhash``
    expression). Zero-token rows are dropped."""
    import pyarrow as pa

    src = df.select(*keep, text_col)
    out_schema = T.StructType(
        [*[src.schema[k] for k in keep],
         T.StructField("simhash", T.LongType(), False)]
    )

    def fn(batches):
        for batch in batches:
            texts = batch.column(len(keep)).to_pylist()
            sh, keep_mask = _simhash_rows(texts, bits)
            mask = pa.array(keep_mask)
            cols = [
                batch.column(i).filter(mask) for i in range(len(keep))
            ] + [pa.array(sh, type=pa.int64()).filter(mask)]
            yield pa.RecordBatch.from_arrays(
                cols,
                schema=pa.schema(
                    [batch.schema.field(i) for i in range(len(keep))]
                    + [pa.field("simhash", pa.int64(), False)]
                ),
            )

    return src.mapInArrow(fn, out_schema)


def with_shingles(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    keep: tuple[str, ...] = (),
    mode: str = "djb2",
) -> DataFrame:
    """``df`` → ``(keep..., sh array<long>)`` via one mapInArrow
    stage (the vectorized shingle kernel; ``mode`` selects the djb2
    parity family or the xxhash64 production family — both bit-exact
    vs the Catalyst chain, test-pinned). ``keep`` must name existing
    columns of ``df``; only ``keep + [text_col]`` cross the Python
    boundary."""
    import pyarrow as pa

    src = df.select(*keep, text_col)
    fields = [src.schema[k] for k in keep]
    out_schema = T.StructType(
        [
            *fields,
            T.StructField(
                "sh", T.ArrayType(T.LongType(), False), False
            ),
        ]
    )

    def fn(batches):
        for batch in batches:
            texts = batch.column(len(keep)).to_pylist()
            values, offsets = _shingle_rows(texts, n, mode)
            sh = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(values, type=pa.int64()),
            )
            cols = [batch.column(i) for i in range(len(keep))] + [sh]
            yield pa.RecordBatch.from_arrays(
                cols, schema=pa.schema(
                    [batch.schema.field(i) for i in range(len(keep))]
                    + [pa.field("sh", pa.list_(pa.int64()), False)]
                )
            )

    return src.mapInArrow(fn, out_schema)
