"""Seeded inputs, made outside every timed region.

A pool of transcripts is generated once per checkout by the package's
own ``gen_transcripts``, in a short Spark session of its own that ends
before the measured session starts. The same session writes the
per-row reference of the zero-Python ``parse_text_sql`` build
(checks.py). A run's input is a seeded sample of the pool's rows, drawn
and written with pyarrow in under a second: a new seed costs no Spark
work, and the same seed gives the same rows from the same pool.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

POOL_ROWS = 100_000  # twice the batch input, so seeds draw different halves
BATCH_FILES = 8


def ensure_pool(work: str, cores: int) -> tuple[str, float | None]:
    """The pool directory (``transcripts`` and ``sql_ref``), built if
    this checkout has none yet; and the seconds building took, or None."""
    from perfbench import session

    pool = os.path.join(work, "pool")
    if os.path.exists(os.path.join(pool, "_COMPLETE")):
        return pool, None
    part = pool + ".part"
    shutil.rmtree(part, ignore_errors=True)
    shutil.rmtree(pool, ignore_errors=True)
    elapsed, spark = session.timed(session.start, cores)
    try:
        t, _ = session.timed(_build_pool, spark, part)
        elapsed += t
    finally:
        session.shutdown(spark)
    open(os.path.join(part, "_COMPLETE"), "w").close()
    os.rename(part, pool)
    return pool, elapsed


def _build_pool(spark, part: str) -> None:
    from perfbench import checks
    from s3_log_parser_spark.sources.gen import gen_transcripts

    flat = os.path.join(part, "transcripts")
    gen_transcripts(spark, rows=POOL_ROWS).write.parquet(flat)
    checks.write_reference(spark, flat, os.path.join(part, "sql_ref"))


def _sample(pool: str, seed: int, rows: int):
    """``rows`` pool rows drawn by ``seed``, in random order. The pool is
    sorted by key first, so the draw does not depend on the order in
    which Spark happened to write the pool's rows."""
    table = pq.read_table(os.path.join(pool, "transcripts"))
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    pick = np.random.default_rng(seed).permutation(table.num_rows)[:rows]
    return table.take(pick)


def _write(table, path: str) -> None:
    # as Spark writes it: INT96 timestamps, zstd, Spark's schema metadata
    pq.write_table(table, path, compression="zstd", use_deprecated_int96_timestamps=True)


def _fresh(d: str) -> str:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def batch_input(pool: str, out: str, seed: int, rows: int) -> str:
    """``rows`` seeded turns in BATCH_FILES equal parquet files under
    ``out``; returns ``out``."""
    table = _sample(pool, seed, rows)
    _fresh(out)
    step = -(-rows // BATCH_FILES)
    for k in range(BATCH_FILES):
        _write(table.slice(k * step, step), os.path.join(out, f"part-{k:05d}.parquet"))
    return out


def stream_input(
    pool: str, out: str, seed: int, bursts: int, files_per_burst: int, rows_per_file: int
) -> str:
    """Seeded turns as ``bursts`` directories ``b<k>`` of
    ``files_per_burst`` parquet files each under ``out``; returns ``out``."""
    table = _sample(pool, seed, bursts * files_per_burst * rows_per_file)
    _fresh(out)
    for k in range(bursts):
        bdir = os.path.join(out, f"b{k}")
        os.makedirs(bdir)
        for j in range(files_per_burst):
            start = (k * files_per_burst + j) * rows_per_file
            _write(table.slice(start, rows_per_file), os.path.join(bdir, f"part-{j:05d}.parquet"))
    return out
