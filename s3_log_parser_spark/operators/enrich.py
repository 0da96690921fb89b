"""E7/E8: user-agent → system/platform classification.

The reference hard-codes two ordered ``contains`` pattern banks
(``/root/reference/src/s3parser.c:494-511`` system,
``:517-586`` platform). Two Spark realizations, cross-checked in tests:

- :func:`classify_when` — chained ``CASE WHEN contains(...)`` — pure
  codegen, short-circuits in match order; fine for ≤10 patterns. Used
  as the oracle form.
- :func:`enrich_broadcast` — the north_star form: the pattern-bank
  dimension is aggregated to ONE row holding a priority-sorted
  ``array<struct<priority,pattern,sid>>`` and **broadcast-joined**
  (BroadcastNestedLoopJoin over a single row — the bank is replicated
  to every executor exactly like a classic dim broadcast); the
  min-priority match is then resolved with a pure array expression
  (``filter(bank, contains)[0]``). Zero row expansion, zero shuffle,
  zero per-row-key window — the fact side streams straight through.
  (The earlier theta-join + ``row_number() over (partition by row-id)``
  form shuffled the whole fact table on a unique-per-row key twice; at
  100 TB that was the plan's scale-killer.)

Platform semantics (intended, SURVEY.md §2.3 E8): ``os_id`` and
``device_id`` as separate columns, ``platform_id = os_id*256 +
device_id``; ``platform_id_u8 = device_id`` reproduces the reference's
observable uint8 truncation (src/s3parser.c:516-586 return type).
Reference quirks NOT reproduced in the primary columns (documented
deviations): Windows→OS_IOS (:534-536); desktop requiring "Mobile"
(:581, makes DEV_DESKTOP unreachable in practice).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    DEVICE_IDS,
    OS_IDS,
    OS_PATTERNS,
    SYSTEM_PATTERNS,
    os_dim,
    system_dim,
)


def classify_system_when(ua: Column | str) -> Column:
    """E7 as an ordered CASE WHEN chain (src/s3parser.c:494-511)."""
    c = F.col(ua) if isinstance(ua, str) else ua
    expr = F.lit(0)
    for pat, sid, _prio in reversed(SYSTEM_PATTERNS):
        expr = F.when(c.isNotNull() & c.contains(pat), F.lit(sid)).otherwise(expr)
    return expr.cast("int")


def classify_os_when(ua: Column | str) -> Column:
    """E8 OS leg as ordered CASE WHEN (intended semantics)."""
    c = F.col(ua) if isinstance(ua, str) else ua
    expr = F.lit(OS_IDS["OS_UNKNOWN"])
    for pats, os_id, _prio in reversed(OS_PATTERNS):
        cond = F.lit(False)
        for p in pats:
            cond = cond | (c.isNotNull() & c.contains(p))
        expr = F.when(cond, F.lit(os_id)).otherwise(expr)
    return expr.cast("int")


def classify_device_when(ua: Column | str, os_id: Column) -> Column:
    """E8 device leg — mirrors the reference's ordered device rules
    (src/s3parser.c:556-583), with the intended desktop rule
    (OS in {windows, linux, macos} and NOT mobile)."""
    c = F.col(ua) if isinstance(ua, str) else ua
    has = lambda p: c.isNotNull() & c.contains(p)  # noqa: E731
    return (
        F.when(os_id == OS_IDS["OS_WATCH"], DEVICE_IDS["DEV_WATCH"])
        .when(os_id == OS_IDS["OS_TV"], DEVICE_IDS["DEV_TV"])
        .when(
            has("Mobile") | ((os_id == OS_IDS["OS_IOS"]) & has("iPhone")),
            DEVICE_IDS["DEV_MOBILE"],
        )
        .when(has("Tablet") | has("iPad"), DEVICE_IDS["DEV_TABLET"])
        .when(
            has("Echo") | has("HomePod") | has("GoogleHome"),
            DEVICE_IDS["DEV_SMART_SPEAKER"],
        )
        .when(
            os_id.isin(
                OS_IDS["OS_WINDOWS"], OS_IDS["OS_LINUX"], OS_IDS["OS_MACOS"]
            ),
            DEVICE_IDS["DEV_DESKTOP"],
        )
        .otherwise(DEVICE_IDS["DEV_UNKNOWN"])
        .cast("int")
    )


def _sqlq(s: str) -> str:
    """single-quoted Spark SQL string literal (escape \\ then ')."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def classify_when(df: DataFrame, ua_col: str = "user_agent") -> DataFrame:
    """Attach system_id/os_id/device_id/platform_id via CASE WHEN chains.

    Built as SQL text (r7): the Column-by-Column chains cost ~0.13 s of
    py4j driver time per construction (build_slim is rebuilt by every
    slim-derived query); one f-string + three ``F.expr`` calls parse to
    the identical CASE trees. ``contains(NULL, p)`` is NULL → CASE
    falls through, matching the previous ``isNotNull() & contains``
    guards. Parity with the per-function Column forms stays pinned by
    the classifier tests."""
    ua = f"`{ua_col}`"
    sys_sql = (
        "CAST(CASE "
        + " ".join(
            f"WHEN contains({ua}, {_sqlq(p)}) THEN {sid}"
            for p, sid, _prio in SYSTEM_PATTERNS
        )
        + " ELSE 0 END AS INT)"
    )
    os_sql = (
        "CAST(CASE "
        + " ".join(
            "WHEN "
            + " OR ".join(f"contains({ua}, {_sqlq(p)})" for p in pats)
            + f" THEN {os_id}"
            for pats, os_id, _prio in OS_PATTERNS
        )
        + f" ELSE {OS_IDS['OS_UNKNOWN']} END AS INT)"
    )
    dev_sql = (
        "CAST(CASE "
        f"WHEN os_id = {OS_IDS['OS_WATCH']} THEN {DEVICE_IDS['DEV_WATCH']} "
        f"WHEN os_id = {OS_IDS['OS_TV']} THEN {DEVICE_IDS['DEV_TV']} "
        f"WHEN contains({ua}, 'Mobile') OR (os_id = {OS_IDS['OS_IOS']} "
        f"AND contains({ua}, 'iPhone')) THEN {DEVICE_IDS['DEV_MOBILE']} "
        f"WHEN contains({ua}, 'Tablet') OR contains({ua}, 'iPad') "
        f"THEN {DEVICE_IDS['DEV_TABLET']} "
        f"WHEN contains({ua}, 'Echo') OR contains({ua}, 'HomePod') "
        f"OR contains({ua}, 'GoogleHome') "
        f"THEN {DEVICE_IDS['DEV_SMART_SPEAKER']} "
        f"WHEN os_id IN ({OS_IDS['OS_WINDOWS']}, {OS_IDS['OS_LINUX']}, "
        f"{OS_IDS['OS_MACOS']}) THEN {DEVICE_IDS['DEV_DESKTOP']} "
        f"ELSE {DEVICE_IDS['DEV_UNKNOWN']} END AS INT)"
    )
    df = df.withColumn("system_id", F.expr(sys_sql))
    df = df.withColumn("os_id", F.expr(os_sql))
    df = df.withColumn("device_id", F.expr(dev_sql))
    return _platform_cols(df)


def _platform_cols(df: DataFrame) -> DataFrame:
    df = df.withColumn(
        "platform_id", (F.col("os_id") * 256 + F.col("device_id")).cast("int")
    )
    # reference uint8 truncation keeps only the device byte (E8 quirk)
    return df.withColumn("platform_id_u8", F.col("device_id"))


def bank_winner(ua: Column, bank: Column, default: int) -> Column:
    """First (min-priority) matching entry of a priority-sorted
    ``array<struct<priority,pattern,sid>>`` pattern bank; ``default``
    when nothing matches or the input is NULL."""
    matches = F.filter(
        bank, lambda x: ua.isNotNull() & ua.contains(x["pattern"])
    )
    # F.get is 0-indexed and NULL-safe under BOTH ANSI modes; element_at
    # throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on empty arrays when
    # spark.sql.ansi.enabled=true (Spark 4 default).
    return F.coalesce(
        F.get(matches, 0)["sid"], F.lit(default)
    ).cast("int")


def _bank_agg(dim: DataFrame, sid_col: str, out: str) -> DataFrame:
    """Collapse a (pattern, sid, priority) dim to one priority-sorted
    array row (priority leads the struct so sort_array orders by it)."""
    return dim.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("priority"), F.col("pattern"), F.col(sid_col).alias("sid")
                )
            )
        ).alias(out)
    )


def enrich_broadcast(
    df: DataFrame, ua_col: str = "user_agent", row_key: tuple[str, ...] = ()
) -> DataFrame:
    """E7+E8 via broadcast join against the pattern-bank dimensions.

    ``row_key`` is accepted for backward compatibility and unused: the
    winner is resolved by an array expression over the broadcast bank,
    so no per-row key (and no shuffle) is needed.
    """
    spark = df.sparkSession
    ua = F.col(ua_col)

    sys_bank = _bank_agg(system_dim(spark), "system_id", "_sys_bank")
    os_bank = _bank_agg(os_dim(spark), "os_id", "_os_bank")
    df = df.join(F.broadcast(sys_bank)).join(F.broadcast(os_bank))
    df = df.withColumn(
        "system_id", bank_winner(ua, F.col("_sys_bank"), 0)
    ).withColumn(
        "os_id", bank_winner(ua, F.col("_os_bank"), OS_IDS["OS_UNKNOWN"])
    ).drop("_sys_bank", "_os_bank")

    df = df.withColumn("device_id", classify_device_when(ua, F.col("os_id")))
    return _platform_cols(df)


def enrich_role_tool(df: DataFrame) -> DataFrame:
    """Attach the role/tool dimensions: ``role_id``, ``tool_id`` and
    ``tool_dim_hash`` (the tool name's DJB2, FIXTURES.md §2).

    The dims are compile-time-constant tables (3 roles, 20 tools), so
    the lookup is CASE WHEN, not a join: the left-join contract (NULL
    for a NULL or unknown key) with zero BroadcastExchange stages and
    no exchange on the fact side.
    """
    from ..functions.hashes import djb2_py
    from ..schemas import ROLES, TOOL_NAMES

    # SQL text, not a 46-When Column loop (r7): same CASE trees,
    # ~0.15 s of py4j per construction saved; distinct match values
    # make the WHEN order irrelevant
    role_sql = (
        "CAST(CASE "
        + " ".join(
            f"WHEN role = {_sqlq(r)} THEN {i + 1}" for i, r in enumerate(ROLES)
        )
        + " ELSE CAST(NULL AS INT) END AS INT)"
    )
    tool_id_sql = (
        "CAST(CASE "
        + " ".join(
            f"WHEN tool = {_sqlq(t)} THEN {i}" for i, t in enumerate(TOOL_NAMES)
        )
        + " ELSE CAST(NULL AS INT) END AS INT)"
    )
    tool_hash_sql = (
        "CAST(CASE "
        + " ".join(
            f"WHEN tool = {_sqlq(t)} THEN {djb2_py(t)}" for t in TOOL_NAMES
        )
        + " ELSE CAST(NULL AS BIGINT) END AS BIGINT)"
    )
    return (
        df.withColumn("role_id", F.expr(role_sql))
        .withColumn("tool_id", F.expr(tool_id_sql))
        .withColumn("tool_dim_hash", F.expr(tool_hash_sql))
    )
