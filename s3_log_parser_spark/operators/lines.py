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
- the frequency table is a hash aggregate over lines —
  ``count_distinct(doc)`` partial-aggregates map-side, so the exchange
  carries (line, doc) pairs shrunk per partition (the hottest
  boilerplate line is exactly one group);
- the drop set (lines seen in > ``max_docs`` docs) is usually tiny
  relative to the corpus — it joins back as a LEFT join + flag (not an
  anti join, so the dropped-line count falls out of the same pass),
  and AQE broadcasts it when it fits, so the exploded frame never
  shuffles for the join;
- reassembly is ONE shuffle keyed by doc id. The corpus is scanned
  twice (the frequency pass and the rewrite pass — the floor for
  frequency-based removal; plan-pinned).

The key is the line string itself, which is what the DuckDB oracle
groups on: a line is dropped only when that exact line recurs, never
because a hash of it collides with a boilerplate line's hash.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def line_dedup(
    df: DataFrame,
    delim: str = "\n",
    max_docs: int = 1,
    min_chars: int = 1,
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
    A line repeated inside one doc counts once (intra-doc repetition
    is ``text.repetition_x1000``'s job).

    ``carry_cols`` names additional per-doc columns (source, lang, …)
    to carry through to the output — they ride the explode (small
    columns duplicated per line, cheaper than a second corpus-wide join
    to recover them afterwards) and come back via ``first()`` in the
    reassembly aggregate.
    """
    ex = _exploded_lines(df, delim, carry_cols)
    drop_lines = (
        ex.filter(F.length("line") >= min_chars)
        .groupBy("line")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("line", F.lit(True).alias("_drop"))
    )
    # LEFT join + flag instead of an anti join: dropped lines still
    # reach the reassembly aggregate (as NULL structs collect_list
    # skips), so the per-doc total comes from the SAME pass — no
    # second totals scan, no final re-join. Short/empty lines are not
    # in the drop set, so they never match → always kept. Splitting
    # even an empty text yields one (empty) line, so every input doc
    # owns at least one exploded row and survives the groupBy.
    marked = ex.join(drop_lines, "line", "left")
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
