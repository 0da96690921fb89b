"""ANSI-mode parity leg.

Spark 4 defaults ``spark.sql.ansi.enabled=true``; the driver harness runs
a default session while ``session.get_spark`` historically pinned ANSI
off — so an ANSI-sensitive expression (``element_at`` on an empty array,
strict casts, arithmetic overflow) could pass every test here and still
die in the driver (this is exactly what happened to ``bank_winner`` in
round 2). This module flips the runtime-settable conf on the shared test
session, re-runs the expressions that differ between modes, and smokes
every driver query under ANSI semantics at sf0.001.
"""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ansi(spark):
    """Flip the (runtime-settable) ANSI conf on, restore after."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_bank_winner_empty_match_under_ansi(ansi):
    """Round-2 regression: a UA matching no bank pattern must yield the
    default id, not INVALID_ARRAY_INDEX_IN_ELEMENT_AT."""
    from s3_log_parser_spark.operators.enrich import bank_winner

    entries = [(0, "Spotify/", 2), (1, "iPhone", 7), (2, "Mobile", 9)]
    bank = F.array(
        *[
            F.struct(
                F.lit(prio).alias("priority"),
                F.lit(pat).alias("pattern"),
                F.lit(sid).alias("sid"),
            )
            for prio, pat, sid in entries
        ]
    )
    df = ansi.createDataFrame(
        [
            ("aws-cli/2.0",),
            ("Mozilla/5.0 (iPhone; Mobile)",),
            ("Spotify/8.8 Mobile",),
            ("zzz-no-match-zzz",),  # empty match array — the r2 killer
            (None,),
        ],
        "user_agent string",
    )
    got = set(
        df.select("user_agent", bank_winner(F.col("user_agent"), bank, 0)).collect()
    )
    assert {tuple(r) for r in got} == {
        ("aws-cli/2.0", 0),
        ("Mozilla/5.0 (iPhone; Mobile)", 7),  # first match in bank order
        ("Spotify/8.8 Mobile", 2),
        ("zzz-no-match-zzz", 0),  # no match → the default, not an error
        (None, 0),
    }


def test_pipeline_build_slim_under_ansi(ansi):
    """The full gen→parse→enrich→flags DAG (the mapInArrow stage plus
    every Catalyst expression downstream) under ANSI semantics."""
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.gen import gen_transcripts

    slim = build_slim(gen_transcripts(ansi, rows=2000))
    by_status = dict(
        slim.groupBy("parse_status").count().collect()
    )
    assert by_status.get("ok", 0) > 0
    assert sum(by_status.values()) >= 2000  # events may fan out to turns


SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_all_driver_queries_execute_under_ansi(ansi):
    """Every queries() entry must *execute* under default-ANSI semantics
    (values are cross-checked against DuckDB by the driver; here we only
    guard against mode-dependent runtime errors)."""
    import __spark_entry__ as entrymod

    failures = {}
    for name, fn in entrymod.queries().items():
        try:
            fn(ansi, SF_DIR).limit(1000).collect()
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
    assert not failures, f"queries failed under ANSI: {failures}"
