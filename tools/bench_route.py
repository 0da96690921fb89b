"""Isolated route-stage bench (guide §1.4): re-runs route_and_write
against an already-written slim checkpoint, fresh sink dir each rep.

Usage: python tools/bench_route.py --slim DIR [--reps N]
The session is sized to the CPUs this process may use
(``os.sched_getaffinity``). Prints the route-stage wall per rep; for
per-sink wall and CPU, run ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_log_parser_spark.operators.router import route_and_write  # noqa: E402
from s3_log_parser_spark.session import get_spark  # noqa: E402
from s3_log_parser_spark.sources.catalog import Catalog  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--slim", required=True, help="slim checkpoint dir (parquet) to route"
    )
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="bench-route", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    out = "/tmp/bench_route_out"

    for i in range(args.reps):
        shutil.rmtree(out, ignore_errors=True)
        cat = Catalog(spark, out)
        slim = spark.read.parquet(args.slim)
        t0 = time.perf_counter()
        route_and_write(slim, cat)
        dt = time.perf_counter() - t0
        print(f"rep {i} (local[{cores}]): route {dt:.2f}s", flush=True)


if __name__ == "__main__":
    main()
