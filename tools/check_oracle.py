"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [--log FILE] [name ...]

``--log FILE`` additionally appends every per-query line (plus a
header with timestamp/git rev) to FILE — the committed per-round
sweep log (ORACLE_SWEEP_r{N}.txt, VERDICT r5 next #7).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# check the checkout this script lives in, both in this process and in
# the Python workers (which import the package from PYTHONPATH)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

import __spark_entry__ as entrymod  # noqa: E402
from s3_log_parser_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def compare(name, spark_df, sql, con) -> str:
    srows = spark_df.collect()
    scols = sorted(spark_df.columns)
    oracle = con.sql(sql)
    ocols_raw = oracle.columns
    orows = oracle.fetchall()
    ocols = sorted(ocols_raw)
    if scols != ocols:
        return f"SCHEMA MISMATCH spark={scols} duckdb={ocols}"
    if len(srows) != len(orows):
        return f"ROWCOUNT MISMATCH spark={len(srows)} duckdb={len(orows)}"
    sset = sorted(
        tuple(canon(r[c]) for c in scols) for r in srows
    )
    idx = [ocols_raw.index(c) for c in scols]
    oset = sorted(tuple(canon(r[i]) for i in idx) for r in orows)
    if sset != oset:
        diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
        return f"VALUE MISMATCH e.g. {diffs}"
    return "OK"


def main():
    args = sys.argv[1:]
    log_path = None
    if "--log" in args:
        i = args.index("--log")
        log_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = set(args)
    log = open(log_path, "a") if log_path else None

    def emit(line: str) -> None:
        print(line)
        if log:
            log.write(line + "\n")
            log.flush()

    if log:
        import subprocess
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=ROOT,
        ).stdout.strip()
        emit(f"# oracle sweep @ {time.strftime('%Y-%m-%d %H:%M:%S')} "
             f"rev={rev} sf_dir={SF_DIR}")
    spark = get_spark(
        app_name="oracle-check",
        cores=len(os.sched_getaffinity(0)),
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            if name in oracles:
                verdict = compare(name, df, oracles[name], con)
            else:
                n = df.count()
                verdict = f"ROWS-ONLY n={n}" + ("" if n >= 0 else " NEGATIVE?")
        except Exception as e:  # noqa: BLE001
            verdict = f"ERROR {type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        flag = "" if verdict.startswith(("OK", "ROWS-ONLY")) else "  <<< FAIL"
        if flag:
            failures += 1
        emit(f"{name:32s} {dt:6.1f}s  {verdict}{flag}")
    emit(f"\n{failures} failures")
    if log:
        log.close()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
