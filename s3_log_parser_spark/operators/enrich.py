"""E7/E8: user-agent → system/platform classification.

The reference hard-codes two ordered ``contains`` pattern banks
(``/root/reference/src/s3parser.c:494-511`` system,
``:517-586`` platform). One Spark form, :func:`classify_when`: chained
``CASE WHEN contains(...)`` over ``schemas.SYSTEM_PATTERNS`` and
``OS_PATTERNS`` in list order (list order is match order), pure
codegen, short-circuits on the first match, no join and no exchange.
Its independent check is a pure-Python reference over the same pattern
lists and device rules (``tests/test_enrich.py``).

:func:`bank_winner` resolves the first match of an arbitrary
priority-sorted pattern bank held as an array column; driver query
``e7_pattern_bank_classify`` broadcasts its bank and uses it.

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

from ..schemas import DEVICE_IDS, OS_IDS, OS_PATTERNS, SYSTEM_PATTERNS


def _sqlq(s: str) -> str:
    """single-quoted Spark SQL string literal (escape \\ then ')."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def classify_when(df: DataFrame) -> DataFrame:
    """Attach system_id/os_id/device_id/platform_id/platform_id_u8 from
    the ``user_agent`` column via CASE WHEN chains.

    Built as SQL text (r7): the Column-by-Column chains cost ~0.13 s of
    py4j driver time per construction (build_slim is rebuilt by every
    slim-derived query); one f-string + three ``F.expr`` calls parse to
    the identical CASE trees. ``contains(NULL, p)`` is NULL → CASE
    falls through: a NULL user agent classifies as unknown.
    ``tests/test_enrich.py`` pins it against a pure-Python reference."""
    ua = "`user_agent`"
    sys_sql = (
        "CAST(CASE "
        + " ".join(
            f"WHEN contains({ua}, {_sqlq(p)}) THEN {sid}"
            for p, sid in SYSTEM_PATTERNS
        )
        + " ELSE 0 END AS INT)"
    )
    os_sql = (
        "CAST(CASE "
        + " ".join(
            "WHEN "
            + " OR ".join(f"contains({ua}, {_sqlq(p)})" for p in pats)
            + f" THEN {os_id}"
            for pats, os_id in OS_PATTERNS
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


def enrich_role_tool(df: DataFrame) -> DataFrame:
    """Attach the role/tool dimensions ``role_id`` and ``tool_id``
    (FIXTURES.md §2).

    The dims are compile-time-constant tables (3 roles, 20 tools), so
    the lookup is CASE WHEN, not a join: the left-join contract (NULL
    for a NULL or unknown key) with zero BroadcastExchange stages and
    no exchange on the fact side.
    """
    from ..schemas import ROLES, TOOL_NAMES

    # SQL text, not a 23-When Column loop (r7): same CASE trees,
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
    return df.withColumn("role_id", F.expr(role_sql)).withColumn(
        "tool_id", F.expr(tool_id_sql)
    )
