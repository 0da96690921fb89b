"""Output checks made with DuckDB over the committed parquet, outside
every timed region, so they do not depend on Spark reading its own
output back.

Each check returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

import os

import duckdb

# ok-row sinks and the key each one's counts table groups by
OK_SINKS = {"by_tool": "tool", "by_role": "role", "by_day": "day_bucket"}
SINKS = (*OK_SINKS, "rejects")


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


def _groups(con, sql: str) -> dict[str, int]:
    return {str(k): int(n) for k, n in con.execute(sql).fetchall()}


def _load(con, name: str, path: str, cols: str) -> None:
    """Read ``cols`` of the parquet under ``path`` once, as table ``name``."""
    con.execute(f"CREATE TEMP TABLE {name} AS SELECT {cols} FROM {_scan(path)}")


def _same_keys(con, a: str, b: str) -> bool:
    """Multiset equality of (conv_id, turn_idx) between two selects."""
    for x, y in ((a, b), (b, a)):
        if _one(con, f"SELECT count(*) FROM (SELECT * FROM ({x}) EXCEPT ALL SELECT * FROM ({y}))"):
            return False
    return True


def check_sinks(out: str, input_path: str, batch: bool, expected: dict[str, dict[str, int]]) -> list[str]:
    """ok rows + rejects = input rows; by_tool, by_role and by_day each
    hold exactly the ok rows; each sink's group counts equal those of
    the ``parse_text_sql`` reference (``expected``). A batch run also
    wrote the slim checkpoint (rejects must be its non-ok rows) and
    ``<sink>_counts`` tables (each must equal a GROUP BY of its sink);
    the stream writes neither."""
    con = duckdb.connect()
    bad = []
    key = "SELECT conv_id, turn_idx FROM "
    _load(con, "input", input_path, "conv_id, turn_idx")
    for s in SINKS:
        _load(con, s, os.path.join(out, s), f"conv_id, turn_idx, {OK_SINKS.get(s, 'parse_status')}")
    n_in = _one(con, "SELECT count(*) FROM input")
    n_rej = _one(con, "SELECT count(*) FROM rejects")
    if batch:
        _load(con, "slim", os.path.join(out, "slim"), "conv_id, turn_idx, parse_status")
        if _one(con, "SELECT count(*) FROM slim") != n_in:
            bad.append("slim rows != input rows")
        ok_rows = f"{key}slim WHERE parse_status = 'ok'"
        if not _same_keys(con, f"{key}slim WHERE parse_status <> 'ok'", f"{key}rejects"):
            bad.append("rejects != non-ok slim rows")
    else:
        ok_rows = f"{key}by_tool"
        if not _same_keys(con, f"{ok_rows} UNION ALL {key}rejects", f"{key}input"):
            bad.append("by_tool + rejects != input rows")
    n_ok = _one(con, f"SELECT count(*) FROM ({ok_rows})")
    if n_ok + n_rej != n_in:
        bad.append(f"ok {n_ok} + rejects {n_rej} != input {n_in}")
    for s in OK_SINKS:
        if not _same_keys(con, f"{key}{s}", ok_rows):
            bad.append(f"{s} rows != ok rows")
    groups = {
        s: _groups(con, f"SELECT {k}, count(*) FROM {s} GROUP BY 1")
        for s, k in (*OK_SINKS.items(), ("rejects", "parse_status"))
    }
    bad += [f"{s} group counts differ from the parse_text_sql build" for s in SINKS if groups[s] != expected[s]]
    if batch:
        for s in SINKS:
            counts = _scan(os.path.join(out, f"{s}_counts"))
            k = OK_SINKS.get(s, "parse_status")
            if _groups(con, f"SELECT {k}, sum(count) FROM {counts} GROUP BY 1") != groups[s]:
                bad.append(f"{s}_counts != GROUP BY of {s}")
    return bad


def write_reference(spark, transcripts_path: str, ref_path: str) -> None:
    """Per row of ``transcripts_path``: its parse status and sink keys
    from a build over the zero-Python ``parse_text_sql`` parser, an
    independent parse of the same text. Every column is a function of
    its own row, so the reference holds for any sample of the rows."""
    from s3_log_parser_spark.plans.pipeline import build_slim

    slim = build_slim(spark.read.parquet(transcripts_path), use_sql_parser=True)
    slim.select("conv_id", "turn_idx", "parse_status", *OK_SINKS.values()).write.parquet(ref_path)


def reference_groups(ref_path: str, input_path: str) -> dict[str, dict[str, int]]:
    """Per-sink group counts the ``parse_text_sql`` build gives the rows
    of ``input_path``."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TEMP TABLE ref AS SELECT r.* FROM {_scan(ref_path)} r "
        f"SEMI JOIN {_scan(input_path)} i USING (conv_id, turn_idx)"
    )
    groups = {
        s: _groups(con, f"SELECT {k}, count(*) FROM ref WHERE parse_status = 'ok' GROUP BY 1")
        for s, k in OK_SINKS.items()
    }
    groups["rejects"] = _groups(
        con, "SELECT parse_status, count(*) FROM ref WHERE parse_status <> 'ok' GROUP BY 1"
    )
    return groups
