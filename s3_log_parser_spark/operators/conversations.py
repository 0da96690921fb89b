"""Conversation-level analytics over transcript turns — the payload's
native aggregation grain (the reference aggregates S3 log lines by
podcast/ip/day, ``/root/reference/src/s3extract.c:151-164``; the
transcript graft's analog unit is the conversation).

Both operators keep the 100 TB shape minimal:

- :func:`conv_stats` is ONE map-side-combined hash aggregate keyed by
  ``conv_id`` — no windows, no joins. On a table bucketed by
  ``conv_id`` (the Iceberg layout SURVEY §7 names) even the one
  exchange disappears via storage-partitioned aggregation.
- :func:`role_transitions` needs turn order, so it pays exactly one
  window shuffle on ``(conv_id)`` — the SAME partitioning the ST1
  dedup window and the stable-turn-ordering invariant already use —
  then a map-side-combined count of the (from_role, to_role) bigram
  grid (≤ |roles|² rows out of any corpus).

``turn_idx_contiguous`` folds the north-star ordering invariant into
the feature table: a conversation whose turn indexes are not exactly
0..n-1 was corrupted upstream (dropped or duplicated turns), and
surfacing that per conversation makes the invariant queryable instead
of only test-asserted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# the roles conv_stats counts, one ``n_<role>`` column each: the
# generator's ``schemas.ROLES`` (user/assistant/tool) plus ``system``
COUNTED_ROLES = ("user", "assistant", "system", "tool")


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation feature row: turn counts (total and per role),
    tool-call counts, distinct tools, wall-clock span (whole seconds,
    integer ``div`` — never a float quotient), and the turn-index
    contiguity flag. One aggregate pass."""
    idx = F.col("turn_idx")
    aggs = [
        F.count("*").cast("long").alias("n_turns"),
        *[
            F.sum((F.col("role") == r).cast("long"))
            .cast("long")
            .alias(f"n_{r}")
            for r in COUNTED_ROLES
        ],
        F.sum(F.col("tool").isNotNull().cast("long"))
        .cast("long")
        .alias("n_tool_calls"),
        F.count_distinct(F.col("tool")).cast("long").alias("n_tools"),
        F.expr(
            "(max(unix_micros(cast(ts as timestamp))) - "
            "min(unix_micros(cast(ts as timestamp)))) div 1000000"
        )
        .cast("long")
        .alias("span_sec"),
        F.max(idx).cast("long").alias("max_turn_idx"),
        # 0..n-1 exactly ⇔ min=0, max=n-1, and all distinct. The
        # distinct count rides the same aggregate (one Expand).
        (
            (F.min(idx) == 0)
            & (F.max(idx) == F.count("*") - 1)
            & (F.count_distinct(idx) == F.count("*"))
        )
        .cast("int")
        .alias("turn_idx_contiguous"),
    ]
    return df.groupBy("conv_id").agg(*aggs)


def tool_cooccurrence(df: DataFrame) -> DataFrame:
    """Corpus-wide (tool_a, tool_b) co-occurrence counts: in how many
    conversations were both tools called? The "which tools travel
    together" profile that drives tool-routing and bundling decisions.

    Scale shape: the pair explosion happens on the DISTINCT
    (conv, tool) table — aggregate-sized, one row per conversation ×
    tool used — never on raw turns, and each conversation contributes
    ≤ |its tools|² pairs (tools are a small enumerable set, so this is
    bounded per conv regardless of turn count). One distinct aggregate
    + one equi-self-join on the conv key + one bounded ≤ |tools|²
    count. ``tool_a < tool_b`` keeps each unordered pair once and
    drops self-pairs.
    """
    ct = (
        df.filter(F.col("tool").isNotNull())
        .select(F.col("conv_id").alias("_c"), F.col("tool").alias("_t"))
        .distinct()
    )
    a = ct.select(F.col("_c"), F.col("_t").alias("tool_a"))
    b = ct.select(F.col("_c"), F.col("_t").alias("tool_b"))
    return (
        a.join(b, on="_c")
        .filter(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count("*").cast("long").alias("n_convs"))
    )


def _len_prefixed(c: str) -> Column:
    """``<chars>:<value>`` with NULL as '' — a field no separator in
    the value can run into its neighbour."""
    v = F.coalesce(F.col(c), F.lit(""))
    return F.concat(F.length(v).cast("string"), F.lit(":"), v)


def conv_signature(df: DataFrame) -> DataFrame:
    """``(conv_id, n_turns, sig)`` — one row per conversation with its
    structural signature: the turn-ordered role and tool of each turn,
    each field length-prefixed (``4:user6:search``, NULL renders as
    ``0:``) and the turns joined with ``|``. The prefix makes the
    string decode one way, so a tool name holding ``:`` or ``|`` cannot
    pass for a turn boundary. Two
    conversations with the same signature have byte-identical structure
    (same roles, same tools, same order) — the conversation-grain
    analog of a document's exact-dedup digest, catching templated /
    replayed conversations that differ only in ids or timestamps.

    ONE hash aggregate on the conv key: ``collect_list(struct(idx,
    parts))`` then an in-row ``array_sort`` + join — turn order is
    restored per GROUP, so no window and no global sort. Per-conv state
    is the conversation's own turns (conversations are bounded — the
    same assumption every turn-ordering op here makes)."""
    part = F.concat(_len_prefixed("role"), _len_prefixed("tool"))
    rows = F.collect_list(F.struct(F.col("turn_idx").alias("i"), part.alias("p")))
    sig = F.array_join(
        F.transform(F.array_sort(rows), lambda r: r["p"]), "|"
    )
    return df.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"), sig.alias("sig")
    )


def conv_dedup(df: DataFrame) -> DataFrame:
    """structural conversation dedup: the signature frame plus
    ``group_size`` and ``keep`` (True on each signature's canonical
    winner — MIN conv_id, deterministic re-run to re-run). Downstream:
    ``.filter("keep")`` for the deduped corpus, ``group_size > 1`` for
    the duplicate report.

    Scale shape: signatures are xxhash64-digested BEFORE the winner
    window so the shuffle key and the window's sort rows carry an
    8-byte digest, not the signature string (which is O(turns) long);
    collision risk at 64 bits is the same the exact-dedup digest path
    already accepts. One aggregate + one window on the digest."""
    from pyspark.sql import Window

    sigs = conv_signature(df)
    keyed = sigs.withColumn("_k", F.xxhash64("sig"))
    w = Window.partitionBy("_k")
    return (
        keyed.withColumn(
            "group_size", F.count("*").over(w).cast("long")
        )
        .withColumn("keep", F.col("conv_id") == F.min("conv_id").over(w))
        .drop("_k")
    )


def conv_examples(
    df: DataFrame,
    max_turns: int | None = None,
    max_chars: int | None = None,
) -> DataFrame:
    """Assemble one training example per conversation — the SFT-export
    grain: ``(conv_id, n_turns, total_chars, messages)`` where
    ``messages`` is ``array<struct<role, text, tool>>`` in turn order.
    ``df.write.json(path)`` on the result IS the JSONL examples file
    (one ``{"conv_id": ..., "messages": [...]}`` object per line).

    Same scale shape as :func:`conv_signature`: ONE hash aggregate on
    the conv key (``collect_list`` of per-turn structs, turn order
    restored in-row by ``array_sort`` on the leading index field) — no
    window, no global sort; per-group state is one conversation's own
    turns, the bounded-conversation assumption every turn-ordering op
    here makes. ``max_turns`` / ``max_chars`` are example-level gates
    applied AFTER assembly (oversized conversations drop whole — a
    truncated dialogue is a corrupt training example, not a smaller
    one; chunking belongs upstream at the document grain)."""
    rows = F.collect_list(
        F.struct(
            F.col("turn_idx").alias("i"), "role", "text", "tool"
        )
    )
    msgs = F.transform(
        F.array_sort(rows),
        lambda r: F.struct(r["role"], r["text"], r["tool"]),
    )
    out = df.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"), msgs.alias("messages")
    )
    total = F.aggregate(
        F.col("messages"),
        F.lit(0).cast("long"),
        lambda acc, m: acc + F.length(F.coalesce(m["text"], F.lit(""))),
    )
    out = out.select("conv_id", "n_turns", total.alias("total_chars"),
                     "messages")
    if max_turns is not None:
        out = out.filter(F.col("n_turns") <= max_turns)
    if max_chars is not None:
        out = out.filter(F.col("total_chars") <= max_chars)
    return out


def role_transitions(df: DataFrame) -> DataFrame:
    """Corpus-wide (from_role, to_role) bigram counts in turn order —
    the conversation-flow profile ("how often does the assistant speak
    twice in a row?"). One lag window on the conversation key, then a
    bounded ≤ |roles|² aggregate; the first turn of each conversation
    has no predecessor and is excluded (count them via
    :func:`conv_stats` if needed)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag(F.col("role")).over(w)
    return (
        df.select(prev.alias("from_role"), F.col("role").alias("to_role"))
        .filter(F.col("from_role").isNotNull())
        .groupBy("from_role", "to_role")
        .agg(F.count("*").cast("long").alias("n"))
    )
