"""Line-level (paragraph-level) corpus deduplication.

The boilerplate-removal stage of web-scale training pipelines
(RefinedWeb / CCNet style): a line whose exact content recurs across
many *different* documents is template chrome — nav bars, cookie
banners, footers — not content, and is removed from every document
while the document itself survives with its remaining lines in their
original order. This is a different granularity from the
document-level suite in ``operators/dedup.py`` (which keeps or drops
whole docs) and from ``text.repetition_x1000`` (which scores repeats
*within* one doc): here the unit is the line and the population is the
corpus.

Reference scope note: the reference engine has no line-level pass at
all (its dedup state is the per-key first-occurrence set,
``/root/reference/src/s3parser.c:629-659``); this operator is part of
the training-data extension tier, same as dedup.py.

Shape at 100 TB (the whole point):

- the explode is map-side (``posexplode`` of a split — no shuffle);
- the frequency table is a hash aggregate over line keys —
  ``count_distinct(doc)`` partial-aggregates map-side, so the exchange
  carries (key, doc) pairs shrunk per partition, and uniform hash keys
  mean no skew (the hottest boilerplate line is exactly one group);
- the drop set (keys seen in > ``max_docs`` docs) is usually tiny
  relative to the corpus — it joins back as a LEFT join + flag (not an
  anti join, so the dropped-line count falls out of the same pass),
  and AQE broadcasts it when it fits, so the exploded frame never
  shuffles for the join;
- reassembly is ONE shuffle keyed by doc id. The corpus is scanned
  twice inline (the frequency pass and the rewrite pass — the floor
  for frequency-based removal) and ONCE when a materialized
  ``freq=`` table is supplied (plan-pinned both ways). Raw line text
  crosses only the reassembly exchange (in hashed key modes the
  frequency/drop tables carry 64-bit keys, never text).

Key modes (same policy as the dedup suite): ``xxhash64`` is the
production family (narrow 64-bit keys, whole-stage codegen);
``djb2``/``raw`` are oracle-parity modes — ``raw`` groups on the line
string itself, which is what the DuckDB oracle does, and the three
modes are pinned equal on fixtures by pytest.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import djb2_expr


def _line_key(mode: str):
    if mode == "raw":
        return F.col("line")
    if mode == "djb2":
        return djb2_expr(F.col("line"))
    if mode == "xxhash64":
        return F.xxhash64(F.col("line"))
    raise ValueError(f"line key mode must be raw|djb2|xxhash64, got {mode!r}")


def _exploded_lines(
    df: DataFrame, delim: str, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    # F.split takes a REGEX — escape the literal delimiter (DuckDB's
    # string_split is literal; un-escaped metacharacters would silently
    # diverge the two engines)
    parts = F.split(F.coalesce(F.col("text"), F.lit("")), re.escape(delim))
    return df.select(
        F.col("doc_id"),
        *[F.col(c) for c in carry_cols],
        F.posexplode(parts).alias("pos", "line"),
    )


def line_frequencies(
    df: DataFrame,
    delim: str = "\n",
    min_chars: int = 1,
    key_mode: str = "xxhash64",
) -> DataFrame:
    """corpus-wide line frequency table ``(line_key, n_docs)`` counting
    DISTINCT documents per exact line (a line repeated inside one doc
    counts once — intra-doc repetition is ``text.repetition_x1000``'s
    job). Lines shorter than ``min_chars`` are excluded (they are
    always kept by :func:`line_dedup`). Materialize this once per
    corpus snapshot and feed it back via ``freq=`` to amortize across
    runs — same seam as ``DedupIndex`` for document-level dedup."""
    ex = _exploded_lines(df, delim)
    # pin the key family on the frame itself: column metadata survives
    # parquet round-trips, and line_dedup refuses a freq= whose pin
    # disagrees with the call (ADVICE r5: a freq table built under a
    # different hash family produces non-matching keys and silently
    # drops nothing; DedupIndex pins n/k/mode the same way)
    meta = {"key_mode": key_mode, "delim": delim, "min_chars": min_chars}
    return (
        ex.filter(F.length("line") >= min_chars)
        .select(
            _line_key(key_mode).alias("line_key", metadata=meta),
            F.col("doc_id"),
        )
        .groupBy("line_key")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
    )


def line_dedup(
    df: DataFrame,
    delim: str = "\n",
    max_docs: int = 1,
    min_chars: int = 1,
    key_mode: str = "xxhash64",
    freq: DataFrame | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """remove every line that occurs in more than ``max_docs`` distinct
    documents; keep surviving lines in original order. Returns one row
    per input document: ``doc_id``, cleaned ``text``,
    ``n_lines_kept``, ``n_lines_dropped`` — a document whose every line
    was boilerplate survives with empty text and ``n_lines_kept = 0``
    (dropping empty docs is the caller's policy, same as
    ``corpus_prep``'s quality gate). Lines shorter than ``min_chars``
    (default: empty lines only) never participate and are always kept.

    ``freq=`` accepts a precomputed :func:`line_frequencies` frame (the
    persisted-table seam); by default it is derived from ``df`` in the
    same lazy DAG. ``carry_cols`` names additional per-doc columns
    (source, lang, …) to carry through to the output — they ride the
    explode (small columns duplicated per line, cheaper than a second
    corpus-wide join to recover them afterwards) and come back via
    ``first()`` in the reassembly aggregate.
    """
    ex = _exploded_lines(df, delim, carry_cols)
    if freq is None:
        freq = line_frequencies(df, delim, min_chars, key_mode)
    else:
        # a supplied frequency table must have been built under the
        # SAME key family/split rules: verify the pin that
        # line_frequencies stamps into line_key's column metadata
        # (present even after a parquet round-trip). Unpinned tables
        # (built by hand) are accepted as-is — the pin is the seam's
        # contract, not a paranoia scan.
        pin = dict(freq.schema["line_key"].metadata or {})
        want = {"key_mode": key_mode, "delim": delim, "min_chars": min_chars}
        stale = {
            k: (pin[k], want[k])
            for k in want
            if k in pin and pin[k] != want[k]
        }
        if stale:
            raise ValueError(
                "line_dedup: freq= was built under different parameters "
                f"than this call (pinned vs requested): {stale} — keys "
                "would not match and nothing would be dropped"
            )
    drop_keys = freq.filter(F.col("n_docs") > max_docs).select(
        "line_key", F.lit(True).alias("_drop")
    )

    eligible = F.length("line") >= min_chars
    keyed = ex.withColumn(
        "line_key", F.when(eligible, _line_key(key_mode))
    )
    # LEFT join + flag instead of an anti join: dropped lines still
    # reach the reassembly aggregate (as NULL structs collect_list
    # skips), so the per-doc total comes from the SAME pass — one
    # corpus scan, no second totals scan, no final re-join. NULL keys
    # (short/empty lines) never match → always kept. Splitting even an
    # empty text yields one (empty) line, so every input doc owns at
    # least one exploded row and survives the groupBy.
    marked = keyed.join(drop_keys, "line_key", "left")
    agg = marked.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(F.col("_drop").isNull(), F.struct("pos", "line"))
            )
        ).alias("_ls"),
        F.count("*").cast("long").alias("_n_total"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    kept_n = F.size("_ls").cast("long")
    return agg.select(
        F.col("doc_id"),
        F.concat_ws(delim, F.transform("_ls", lambda s: s["line"])).alias("text"),
        *[F.col(c) for c in carry_cols],
        kept_n.alias("n_lines_kept"),
        (F.col("_n_total") - kept_n).alias("n_lines_dropped"),
    )
