"""Regenerate ``golden/slim_route_plans.json``: the physical plans of
``build_slim`` and of every route sink's write frame in
``route_and_write``, in both ANSI modes, on the test suite's session
shape (``local[8]``, 8 shuffle partitions, the 3,000-turn fixture).

``tests/test_plan_pins.py`` compares the tree against this file, so a
refactor of the slim builder or of the router's write layout that
changes either plan fails there. Plans are normalized first: expression
ids, exchange plan ids and file paths vary from run to run.

Rerun only for an intended plan change:  python tools/make_plan_golden.py
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "golden", "slim_route_plans.json")


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"file:[^\s,\]]+", "<path>", plan)


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return normalize(buf.getvalue())


def ansi_key(spark) -> str:
    on = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    return "ansi_on" if on else "ansi_off"


def slim_route_plans(spark, transcripts, work: str) -> dict[str, str]:
    """Writes ``transcripts`` to parquet under ``work``, then runs
    ``build_slim`` over that scan and ``route_and_write`` from the slim
    checkpoint; returns the normalized plan of the slim frame and of
    each sink's written frame (scans of files, so the input's own
    lineage is not part of any plan)."""
    from s3_log_parser_spark.operators.router import route_and_write
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.catalog import Catalog

    written = {}

    class Recording(Catalog):
        def write(self, df, table, *args, **kwargs):
            written[table] = df
            super().write(df, table, *args, **kwargs)

    cat = Recording(spark, work)
    cat.write(transcripts, "transcripts")
    slim = build_slim(cat.read("transcripts"))
    plans = {"build_slim": explain(slim)}
    cat.write(slim, "slim")
    route_and_write(cat.read("slim"), cat)
    for table, df in sorted(written.items()):
        if table not in ("transcripts", "slim") and not table.endswith("_counts"):
            plans[f"route:{table}"] = explain(df)
    return plans


def main() -> None:
    sys.path.insert(0, REPO)
    from s3_log_parser_spark.session import get_spark
    from s3_log_parser_spark.sources.gen import gen_transcripts

    spark = get_spark(app_name="pytest", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    transcripts = gen_transcripts(spark, rows=3000).cache()
    transcripts.count()
    out = {}
    for ansi in ("false", "true"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        with tempfile.TemporaryDirectory() as work:
            out[ansi_key(spark)] = slim_route_plans(spark, transcripts, work)
    with open(GOLDEN, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {GOLDEN}: {sorted(out['ansi_off'])}")


if __name__ == "__main__":
    main()
