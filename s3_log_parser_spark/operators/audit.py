"""Single-pass data-quality audit (Deequ/Great-Expectations shape).

A production pipeline gates every ingested batch on a battery of
declarative expectations — null rates, domains, formats, uniqueness —
and the naive implementation runs one job per check, i.e. N full
scans of a 100 TB table. Here every check compiles to aggregate
EXPRESSIONS over the same scan: ``audit()`` is ONE map-side-combined
hash aggregate producing a single row, melted driver-side into the
(check, failed, total, passed) report. Adding a check adds a column
to the aggregate, never a pass over the data.

Check algebra (all pure Catalyst, zero Python):

- row-level checks count failing rows with a conditional sum — the
  SQL ``COUNT(*) FILTER (WHERE NOT ok)`` shape, so the report says
  how MANY rows violate, not just that one did;
- ``unique`` compares the non-NULL-key row count to
  ``count_distinct(cols)`` inside the same aggregate (Catalyst plans
  the distinct via one Expand — still a single scan);
- ``foreign_key`` is the one check that genuinely needs a second
  table: a broadcast left-anti probe of the dim (the fact side never
  shuffles), reported through the same schema.

Thresholds: a check passes with zero failing rows, or, when a
:class:`Check` sets ``max_failed_ratio_x1000`` (per-mille, integer —
the repo's cross-engine arithmetic rule), with at most that share of
the rows, so "≤ 0.1% bad timestamps" is a declarable contract, not a
hardcoded zero.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    """One expectation: ``fail_expr`` is a row-level boolean that is
    true when the ROW VIOLATES the expectation (null-safe: NULL
    comparisons must be coalesced by the builder)."""

    name: str
    fail_expr: Column
    max_failed_ratio_x1000: int | None = None
    # uniqueness-style checks aggregate directly instead of per-row
    agg_failed: Column | None = field(default=None, repr=False)


def not_null(*cols: str) -> Check:
    fail = None
    for c in cols:
        e = F.col(c).isNull()
        fail = e if fail is None else fail | e
    return Check(name=f"not_null({','.join(cols)})", fail_expr=fail)


def in_range(col: str, lo, hi) -> Check:
    """Violated when the value is non-NULL and outside [lo, hi]
    (compose with not_null to also reject NULLs)."""
    c = F.col(col)
    return Check(
        name=f"in_range({col},{lo},{hi})",
        fail_expr=c.isNotNull() & ~c.between(F.lit(lo), F.lit(hi)),
    )


def accepted_values(col: str, values: list) -> Check:
    c = F.col(col)
    return Check(
        name=f"accepted_values({col})",
        fail_expr=c.isNotNull() & ~c.isin(values),
    )


def matches(col: str, pattern: str) -> Check:
    """RE2/Java-compatible subset recommended (the repo's grok-bank
    lesson: stick to char classes both engines agree on)."""
    c = F.col(col)
    return Check(
        name=f"matches({col})",
        fail_expr=c.isNotNull() & ~c.rlike(pattern),
    )


def unique(*cols: str) -> Check:
    """failed = count(rows with a fully non-NULL key) − count(distinct
    cols): the number of surplus rows beyond one per key.
    ``count_distinct`` skips NULL keys, so the keyed count must too —
    comparing against ``count(*)`` would report every NULL-key row as
    a "duplicate"; NULL keys are ``not_null``'s job, not uniqueness's."""
    keyed = None
    for c in cols:
        e = F.col(c).isNotNull()
        keyed = e if keyed is None else keyed & e
    distinct = F.count_distinct(*[F.col(c) for c in cols])
    return Check(
        name=f"unique({','.join(cols)})",
        fail_expr=F.lit(False),
        agg_failed=(F.sum(keyed.cast("long")) - distinct).cast("long"),
    )


def audit(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Run every check in ONE aggregate pass over ``df``; return the
    (check, failed, total, passed) report — tiny, deterministic,
    sorted by check name. The input is scanned exactly once however
    many checks are declared (plan-pinned in tests)."""
    if not checks:
        raise ValueError("audit: no checks declared")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"audit: duplicate check names in {names}")
    aggs = [F.count(F.lit(1)).cast("long").alias("_total")]
    for i, ch in enumerate(checks):
        failed = (
            ch.agg_failed
            if ch.agg_failed is not None
            else F.sum(ch.fail_expr.cast("long"))
        )
        aggs.append(F.coalesce(failed, F.lit(0)).cast("long").alias(f"_f{i}"))
    row = df.agg(*aggs)

    # melt the 1-row aggregate into the report: a stack() projection
    # over the single aggregated row — no second pass, no driver loop
    pairs = []
    for i, ch in enumerate(checks):
        budget = F.lit(0)
        if ch.max_failed_ratio_x1000 is not None:
            # floor(total·r/1000) — the same arithmetic FORM the DuckDB
            # oracle uses (floor of a double product), so the parity is
            # structural, not empirical (the percentile-rank lesson)
            budget = F.floor(
                F.col("_total") * ch.max_failed_ratio_x1000 / F.lit(1000)
            ).cast("long")
        pairs.append(
            F.struct(
                F.lit(ch.name).alias("check"),
                F.col(f"_f{i}").alias("failed"),
                F.col("_total").alias("total"),
                (F.col(f"_f{i}") <= budget).alias("passed"),
            )
        )
    return (
        row.select(F.explode(F.array(*pairs)).alias("r"))
        .select("r.*")
        .orderBy("check")
    )


def foreign_key(fact: DataFrame, key: str, dim: DataFrame, dim_key: str) -> DataFrame:
    """Referential-integrity check: fact rows whose non-NULL ``key``
    has no match in ``dim`` (passes only with no orphan). ONE pass
    over the fact table: a broadcast LEFT join marks orphans (dim-side
    NULL) and the same aggregate computes total + failed — the fact
    side is neither shuffled nor scanned twice. Same report schema as :func:`audit`."""
    probe = F.broadcast(dim.select(F.col(dim_key).alias("__fk")).distinct())
    marked = fact.join(probe, fact[key] == F.col("__fk"), "left")
    orphan = (F.col(key).isNotNull() & F.col("__fk").isNull()).cast("long")
    return marked.agg(
        F.coalesce(F.sum(orphan), F.lit(0)).cast("long").alias("failed"),
        F.count(F.lit(1)).cast("long").alias("total"),
    ).select(
        F.lit(f"foreign_key({key})").alias("check"),
        "failed",
        "total",
        (F.col("failed") == 0).alias("passed"),
    )
