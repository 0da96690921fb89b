"""A1-A6: the reference extract tool's aggregation surface, plus the
summaries beyond it.

The reference's linear-scan in-memory group table
(``/root/reference/src/s3extract.c:136-216``, O(G·N) lookups, whole
dataset in RAM) becomes ``HashAggregateExec`` partial+final with spill
— map-side combine means the shuffle moves one row per (partition,
group), not per input row.

A5 (:func:`percentiles_disc`) and the key-skew profile are exact
rank-based summaries, checked against the DuckDB oracle.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import SECONDS_PER_DAY

# F3 get_group_name (s3extract.c:294-306), grafted: podcast→tool
GROUP_NAMES = {"p": "podcast", "i": "ip_address", "t": "day", "n": "none"}


def group_count(df: DataFrame, *keys: str | Column) -> DataFrame:
    """A1: groupBy + count (s3extract.c:151-203 + :273)."""
    return df.groupBy(*keys).agg(F.count("*").alias("count"))


def day_key(ts_unix: Column | str) -> Column:
    """A2: integer day bucket, byte-parity with s3extract.c:159."""
    c = F.col(ts_unix) if isinstance(ts_unix, str) else ts_unix
    return (c / SECONDS_PER_DAY).cast("long")


def grouped_topk(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[Column, ...],
    k: int = 3,
) -> DataFrame:
    """A6 (beyond the reference, which has no sort/limit/top-k at all —
    SURVEY §2.6): per-group top-k rows under an explicit DETERMINISTIC
    ordering (callers must make ``order_cols`` a total order — ties
    under a partial order would make the returned rows
    partition-dependent, the same trap as ``dropDuplicates``). Adds
    ``rank``. One window shuffle on the group key; at 100 TB this is
    the standard "top tools per day" dashboard shape — Spark pushes a
    per-partition top-k heap below the exchange via
    ``WindowGroupLimit``, so the shuffle moves ≤ k rows per
    (partition, group), not every row."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def grouped_export(
    df: DataFrame,
    key: str | Column,
    max_rows_per_group: int | None = None,
    member_order: tuple[str, ...] = (),
) -> DataFrame:
    """S6 grouped-JSON shape: key → (count, members[]). The reference
    materializes every member in RAM (s3extract.c:251-291); at scale
    collect_list per group is only sane with a cap. The cap is applied
    BEFORE aggregation (row_number over the group, filter ≤ cap) so
    members beyond it never enter the aggregation buffer — slicing
    after collect_list would still materialize the whole group. The
    true count comes from a window count over the uncapped rows.
    (The router's per-sink tables remain the scale path, SURVEY §2.7.)
    """
    from pyspark.sql import Window

    if max_rows_per_group is None:
        return df.groupBy(key).agg(
            F.count("*").alias("count"),
            F.collect_list(F.struct(*df.columns)).alias("logs"),
        )
    keyc = F.col(key) if isinstance(key, str) else key
    order = [F.col(c) for c in member_order] or [F.lit(1)]
    w = Window.partitionBy(keyc).orderBy(*order)
    # collision-safe working names: an input frame carrying either name
    # would otherwise produce ambiguous-column failures or wrong counts
    grp_n, rn = "__s3lp_grp_n__", "__s3lp_rn__"
    if grp_n in df.columns or rn in df.columns:
        # a plain assert would vanish under `python -O`, turning this
        # into ambiguous-column failures or silently wrong counts
        raise ValueError(
            f"input must not carry reserved working columns {grp_n!r}/{rn!r}"
        )
    capped = (
        df.withColumn(grp_n, F.count("*").over(Window.partitionBy(keyc)))
        .withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= max_rows_per_group)
    )
    member_cols = [c for c in df.columns]
    return capped.groupBy(key).agg(
        F.max(grp_n).alias("count"),
        F.collect_list(F.struct(*member_cols)).alias("logs"),
    )


_HASH_COLS = ("ip_hash", "key_hash", "tool_hash", "conv_hash")
# the most groups grouped_export_json materializes on the driver
MAX_EXPORT_GROUPS = 100_000


def grouped_export_json(
    df: DataFrame,
    key: str,
    group_name: str,
    max_rows_per_group: int = 1000,
    member_order: tuple[str, ...] = (),
) -> str:
    """S6: the reference's grouped-JSON document shape —
    ``{"grouped_by": name, "groups": {key: {"count": N, "logs": [...]}},
    "total_groups": M}`` (``print_grouped_json``,
    /root/reference/src/s3extract.c:251-306) — as VALID JSON (the
    reference's literal output is malformed: missing quote at :240,
    trailing comma at :245; FIXTURES.md defines ours as golden).

    Key rendering mirrors the reference: GROUP_TIME keys print as
    formatted timestamps of the bucket start (``format_timestamp``,
    s3extract.c:263-270 — here ``day_bucket*86400`` rendered UTC), and
    hash-column keys as 8-hex (F2, :330-335). Per F1 (:309-327) member
    timestamps render ``yyyy-MM-dd HH:mm:ss`` (UTC-pinned — documented
    deviation from the reference's localtime).

    This document is inherently driver-materialized (the reference
    holds every group in RAM, README.md:220-235); members are capped
    per group, and ``MAX_EXPORT_GROUPS`` bounds driver memory on the group
    axis (raises rather than silently truncating — the router's
    per-sink tables remain the scale path, SURVEY §2.7).
    """
    fmt = df
    for c in _HASH_COLS:
        if c in fmt.columns:
            fmt = fmt.withColumn(c, F.lower(F.format_string("%08x", F.col(c))))
    for fld in fmt.schema.fields:
        if fld.dataType.typeName() == "timestamp":
            fmt = fmt.withColumn(
                fld.name, F.date_format(fld.name, "yyyy-MM-dd HH:mm:ss")
            )
    if key == "day_bucket":
        # GROUP_TIME key = formatted bucket-start timestamp
        fmt = fmt.withColumn(
            key,
            F.date_format(
                F.timestamp_seconds(F.col(key) * SECONDS_PER_DAY),
                "yyyy-MM-dd HH:mm:ss",
            ),
        )
    grouped = grouped_export(
        fmt, key, max_rows_per_group=max_rows_per_group,
        member_order=member_order,
    ).limit(MAX_EXPORT_GROUPS + 1).collect()
    if len(grouped) > MAX_EXPORT_GROUPS:
        raise ValueError(
            f"grouped_export_json: >{MAX_EXPORT_GROUPS} groups would be "
            "materialized on the driver; use the router's per-sink "
            "tables (the scale path)"
        )
    groups = {
        str(r[key]): {
            "count": r["count"],
            "logs": [m.asDict(recursive=True) for m in r["logs"]],
        }
        for r in grouped
    }
    doc = {
        "grouped_by": group_name,
        "groups": groups,
        "total_groups": len(groups),
    }
    return json.dumps(doc, default=str, sort_keys=True)


# the per-mille ranks percentiles_disc reports: p500, p950, p990
PCTS_X1000 = (500, 950, 990)


def percentiles_disc(df: DataFrame, key: str, value: str) -> DataFrame:
    """A5 (beyond the reference): per-key discrete percentiles
    (``PCTS_X1000``) of an integer metric — the latency-summary
    aggregate every log pipeline grows next after counts.

    Classic ``percentile_disc`` semantics — the value at ascending rank
    ``ceil(p·n)`` — implemented explicitly with ONE window (rank + group
    count share the same partitioning) so the definition is
    engine-independent and the DuckDB oracle reproduces it bit-for-bit.
    Exact percentiles of a group fundamentally need that per-key sort.
    """
    from pyspark.sql import Window

    # no tie-break needed: row identity at a rank is order-dependent
    # among equal values, but the VALUE at rank ceil(p·n) is not.
    # rank arithmetic is the integer-product form CEIL((n*p)/1000.0) in
    # BOTH engines (the oracle emits the identical expression), so
    # cross-engine parity is structural, not empirical (ADVICE r4:
    # ceil(n*0.99)-style double literals agreed up to n=2e6 by luck)
    w = Window.partitionBy(key).orderBy(F.col(value).asc())
    wc = Window.partitionBy(key)
    ranked = (
        df.filter(F.col(value).isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wc))
    )
    aggs = [F.max("_n").cast("long").alias("n")]
    for p in PCTS_X1000:
        aggs.append(
            F.max(
                F.when(
                    F.col("_rk") == F.ceil(F.col("_n") * p / 1000), F.col(value)
                )
            ).cast("long").alias(f"p{p}")
        )
    return ranked.groupBy(key).agg(*aggs)


def profile_key_skew(df: DataFrame, key: str | Column) -> DataFrame:
    """Skew diagnostics for a prospective join/aggregation key — the
    question every 100 TB plan review asks first ("does this key need
    salting?") as one tiny summary row: distinct keys, total rows,
    the max group, discrete p50/p99 group sizes, and the hot key's
    row share (×1000).

    Per-key counts (map-side combined), then discrete percentiles over
    the counts via a GLOBAL rank — one ordered pass over one row per
    key. That single-partition sort is fine up to ~10^8 keys.
    """
    from pyspark.sql import Window

    keyc = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(keyc.alias("_k")).agg(F.count("*").alias("_c"))
    w = Window.orderBy(F.col("_c").asc())
    ranked = counts.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy())
    )
    return ranked.agg(
        F.max("_n").cast("long").alias("n_keys"),
        F.sum("_c").cast("long").alias("total_rows"),
        F.max("_c").cast("long").alias("max_count"),
        # same integer-product rank form as percentiles_disc (see there)
        F.max(
            F.when(F.col("_rk") == F.ceil(F.col("_n") * 500 / 1000), F.col("_c"))
        ).cast("long").alias("p50_count"),
        F.max(
            F.when(F.col("_rk") == F.ceil(F.col("_n") * 990 / 1000), F.col("_c"))
        ).cast("long").alias("p99_count"),
        F.floor(F.max("_c") * 1000 / F.sum("_c")).cast("long").alias("top1_share_x1000"),
    )


# the group keys of a time rollup table, besides resolution and bucket
ROLLUP_KEYS = ("event_type",)
# the rollup tiers, finest first: coarse tiers derive from the first
ROLLUP_RESOLUTIONS = ("minute", "hour", "day")


def time_rollup(df: DataFrame) -> DataFrame:
    """Multi-resolution time rollup (hypertable continuous-aggregate
    shape): per-``ROLLUP_KEYS`` event counts + integer-scaled ``value``
    sums of ``ts`` buckets at every ``ROLLUP_RESOLUTIONS`` tier, coarse
    tiers DERIVED from the finest one.

    Beyond the reference (its only time bucketing is the integer day
    key, ``/root/reference/src/s3extract.c:159``); this is the
    TimescaleDB/Druid-style rollup a log/metrics store serves
    dashboards from.

    Scale shape — why not one GROUPING SETS pass over raw: Catalyst
    implements grouping sets with an ``Expand`` node that replicates
    every INPUT row once per set, so a 3-tier rollup of a 100 TB scan
    pushes 300 TB of expanded rows into the partial aggregate. Here the
    raw input is scanned ONCE and aggregated at the finest resolution
    (map-side combine, one shuffle of ~|keys × minutes| rows); then ALL
    tiers — including the finest, whose re-aggregation is the identity
    — derive from that aggregate-sized base in ONE explode + hash
    re-aggregate. Expanding the BASE is |keys × minutes| × n_tiers
    rows, not raw × n_tiers, so the single-raw-scan property holds
    with no cache at all (r7: the previous union-of-reaggregates shape
    needed a persisted base to avoid 3 raw scans, and the persist's
    first-run materialization cost 3× the whole unpersisted query at
    bench scale — 6.9 s vs 2.3 s).

    Sums are exact: ``value`` is scaled ×100 and summed as LONG (the
    repo's cross-engine rule — float summation order differs between
    engines, integer sums don't).
    """
    kcols = [F.col(k) for k in ROLLUP_KEYS]
    base = df.groupBy(
        *kcols, F.date_trunc(ROLLUP_RESOLUTIONS[0], F.col("ts")).alias("_b")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_value_x100"),
    )
    measure_cols = ["n_events", "sum_value_x100"]
    # one explode of the tiny base into (resolution, bucket) rows, one
    # hash re-aggregate: the finest tier's re-aggregation is the
    # identity (its groups are singletons), coarser tiers sum
    tier_structs = F.array(
        *[
            F.struct(
                F.lit(res).alias("r"),
                F.date_trunc(res, F.col("_b")).alias("b"),
            )
            for res in ROLLUP_RESOLUTIONS
        ]
    )
    out = (
        base.select(
            *kcols,
            *[F.col(c) for c in measure_cols],
            F.explode(tier_structs).alias("_t"),
        )
        .groupBy(
            F.col("_t.r").alias("resolution"),
            *kcols,
            F.col("_t.b").alias("_b"),
        )
        .agg(*[F.sum(c).cast("long").alias(c) for c in measure_cols])
    )
    # bucket_start as a formatted string: identical text both engines
    # (cross-engine timestamp hashing is representation-sensitive)
    return out.select(
        "resolution",
        *ROLLUP_KEYS,
        F.date_format("_b", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        *measure_cols,
    )


def pivot_counts(
    df: DataFrame,
    row_key: Column | str,
    pivot_col: str,
    values: list[str],
    row_key_name: str = "row_key",
) -> DataFrame:
    """Wide per-key counts: one column per ``values`` entry (the
    classic daily-breakdown table; reference's nearest shape is the
    per-group count map of src/s3extract.c:120-180, one group per ROW).

    ``values`` is REQUIRED: without it Spark first runs a distinct
    scan over ``pivot_col`` to discover columns — a full extra pass at
    100 TB, and an unbounded-width schema if the column is dirty. An
    explicit list keeps the plan one aggregate and the schema stable.
    Empty cells are 0, not NULL (conditional-count semantics)."""
    rk = F.col(row_key) if isinstance(row_key, str) else row_key
    wide = (
        df.select(rk.alias(row_key_name), pivot_col)
        .groupBy(row_key_name)
        .pivot(pivot_col, values)
        .count()
    )
    return wide.select(
        row_key_name,
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(v) for v in values],
    )


def cube_counts(
    df: DataFrame,
    dims: list[str],
    measure: Column | None = None,
    measure_name: str = "sum_measure",
) -> DataFrame:
    """All 2^len(dims) grouping-set margins with the raw input scanned
    ONCE: per-cell row count + an optional integer measure sum, and a
    ``grouping_id`` (same bit convention as ``GROUPING()`` — dims[0]
    is the high bit) disambiguating margin NULLs from data NULLs.

    Scale shape — same doctrine as ``time_rollup``: ``df.cube()``
    plans an ``Expand`` node that replicates every INPUT row once per
    grouping set (2^d × a 100 TB scan into the partial aggregate).
    Counts and sums are additive, so instead the finest cell table is
    aggregated once (map-side combine, one shuffle of |cells| rows)
    and every margin re-aggregates THAT — a table ~|dims cardinality
    product| rows, not raw. Nothing is cached: every margin branch
    plans the same finest-cell exchange, and adaptive execution's
    exchange reuse runs it once (one raw scan; the other 2^d − 1
    branches read it as ``ReusedExchange``). At production scale the
    finest table is a written table (the OLAP-cube materialization)."""
    if not dims:
        raise ValueError("cube_counts needs at least one dim")
    aggs = [F.count("*").cast("long").alias("n")]
    if measure is not None:
        aggs.append(F.sum(measure).cast("long").alias(measure_name))
    finest = df.groupBy(*dims).agg(*aggs)
    mcols = ["n"] + ([measure_name] if measure is not None else [])
    resum = [F.sum(c).cast("long").alias(c) for c in mcols]
    d = len(dims)
    parts = []
    for gid in range(1 << d):
        dropped = [
            dims[i] for i in range(d) if (gid >> (d - 1 - i)) & 1
        ]
        kept = [c for c in dims if c not in dropped]
        g = finest.groupBy(*kept).agg(*resum) if kept else finest.agg(*resum)
        sel = [
            F.lit(None).cast(dict(finest.dtypes)[c]).alias(c)
            if c in dropped
            else F.col(c)
            for c in dims
        ]
        parts.append(
            g.select(*sel, F.lit(gid).cast("long").alias("grouping_id"), *mcols)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def log2_bin(v: Column) -> Column:
    """Exact log2 bucket of a non-negative BIGINT: bit length (0 → 0).
    ``length(bin(v))`` in both engines — no float log whose floor
    misrounds at power-of-two boundaries (same rule as the HLL rank)."""
    return F.when(v <= 0, F.lit(0)).otherwise(F.length(F.bin(v))).cast("int")


def value_histogram(
    df: DataFrame,
    value_col: str = "value",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Log2-binned distribution of a ×1000 fixed-point value per key — the
    mergeable distribution sketch (histograms add, and ~31 bins cover
    any BIGINT range, so per-day histograms roll up like the HLL/CMS
    sketches). Returns (keys..., bin, n, sum_v): enough for range
    counts, coarse quantiles, and per-bin means.

    Values must be NON-NEGATIVE: log2 bins are defined on magnitudes,
    ``floor(v·1000 + 0.5)`` is not symmetric rounding below zero, and
    :func:`histogram_quantiles` reports bin 0's bounds as [0, 0] —
    folding negatives into bin 0 would silently break that guarantee
    (ADVICE r5). The precondition is enforced row-locally (raises at
    execution time on the first negative, no extra pass). NULL values
    pass through to a NULL bin."""
    raw = F.col(value_col)
    # assert_true yields NULL when the condition holds and raises
    # otherwise — a row-local guard with no extra scan
    ok = F.assert_true(
        raw.isNull() | (raw >= 0),
        F.lit(f"value_histogram: negative {value_col}"),
    )
    raw = F.when(ok.isNull(), raw)
    v = F.floor(raw * 1000 + F.lit(0.5)).cast("long")
    return (
        df.select(*keys, v.alias("_v"))
        .groupBy(*keys, log2_bin(F.col("_v")).alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_v").cast("long").alias("sum_v"),
        )
    )


def histogram_quantiles(
    hist: DataFrame,
    ps: tuple[int, ...] = (500, 990),
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Per-mille quantile BOUNDS from a persisted log2 histogram — the
    percentile analog of the HLL/CMS rollup loop: per-day histograms
    merge by adding ``n`` per bin (:func:`value_histogram`), so p50/p99
    over ANY window come from the few-KB sketch table, never a rescan
    of raw. The answer is exact at bin granularity: the value at rank
    ``ceil(total·p/1000)`` provably lies in [lo, hi] of the returned
    bin (factor-of-2 bounds — the log2 trade; narrower bins = a finer
    binning function, same machinery). The guarantee requires the
    histogram's non-negative-value precondition, which
    :func:`value_histogram` enforces.

    Input is sketch-sized (≤ ~31 bins per key), so the one window pass
    + per-p min-bin aggregate here costs nothing at any corpus scale —
    the heavy lifting already happened map-side in the histogram
    build. Rank arithmetic is the integer-product ``CEIL(total*p/
    1000.0)`` form shared with :func:`percentiles_disc` and the DuckDB
    oracle (structural parity, not empirical).
    """
    from pyspark.sql import Window

    if not ps or any(not 0 < p <= 1000 for p in ps):
        raise ValueError(f"ps must be per-mille ranks in (0, 1000]: {ps}")
    cum_w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy(*keys)
    cum = (
        hist.withColumn("_cum", F.sum("n").over(cum_w))
        .withColumn("_total", F.sum("n").over(tot_w))
        .select(
            *keys,
            "bin",
            "_cum",
            "_total",
            F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"),
        )
    )
    qb = (
        cum.filter(
            F.col("_cum") >= F.ceil(F.col("_total") * F.col("p") / 1000)
        )
        .groupBy(*keys, "p")
        .agg(F.min("bin").alias("bin"))
    )
    # bin b (bit length) covers [2^(b-1), 2^b - 1]; bin 0 is v <= 0.
    # b=63's upper bound is pinned to LONG_MAX explicitly (2^63 - 1
    # via shift arithmetic would overflow under ANSI)
    lo = F.when(F.col("bin") <= 0, F.lit(0).cast("long")).otherwise(
        F.expr("shiftleft(1L, bin - 1)")
    )
    hi = (
        F.when(F.col("bin") <= 0, F.lit(0).cast("long"))
        .when(F.col("bin") >= 63, F.lit((1 << 63) - 1))
        .otherwise(F.expr("shiftleft(1L, bin) - 1L"))
    )
    return qb.select(
        *keys, "p", "bin", lo.alias("lo"), hi.alias("hi")
    )


def time_rollup_merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Late-data refresh of a persisted :func:`time_rollup` table:
    counts and integer value sums are ADDITIVE, so folding a late
    batch in is ``time_rollup(late)`` unioned with the existing table
    and re-aggregated — raw is scanned only for the LATE batch, and
    both merge inputs are aggregate-sized. Associativity makes the
    law ``merge(rollup(a), rollup(b)) == rollup(a ∪ b)`` exact (the
    same algebra as the HLL/CMS/histogram sketch merges), so late
    arrivals never force a rescan of the original window.

    At production scale the write side is ``MERGE INTO`` on just the
    buckets the delta touches (the Iceberg seam — a parquet overwrite
    rewrites the whole aggregate table, which is still tiny relative
    to raw but not bucket-local). Inputs must share the rollup schema
    (resolution, ROLLUP_KEYS..., bucket_start, measures).
    """
    on = ["resolution", *ROLLUP_KEYS, "bucket_start"]
    if set(existing.columns) != set(delta.columns):
        raise ValueError(
            f"time_rollup_merge: schema mismatch {existing.columns} vs "
            f"{delta.columns}"
        )
    measures = [c for c in existing.columns if c not in on]
    return (
        existing.unionByName(delta)
        .groupBy(*on)
        .agg(*[F.sum(c).cast("long").alias(c) for c in measures])
        .select(*on, *measures)
    )
