"""SparkSession builder with the confs this pipeline relies on.

Scale posture (100 TB / 1000-executor design, tested on local[N]):

- AQE on (coalesce small shuffle partitions, split skewed ones) — the
  north_rule names AQE skew-join handling explicitly.
- Arrow on, 10k rows/batch — mirrors the reference's 10k-row batch loop
  (reference ``include/s3lp.h:19``); it sizes the record batches the
  ``mapInArrow`` parse kernel receives.
- Session timezone pinned UTC — the reference's ``mktime`` uses local
  time (a tz bug, ``/root/reference/src/s3parser.c:376``); we fix it and
  document the deviation (SURVEY.md §2.2 P2).
- shuffle.partitions defaults to 2× cores locally; on a real cluster
  this is set per-job to ~2-3× total cores and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def literal_frame(spark: SparkSession, rows: list, schema: str):
    """Small constant DataFrame as a pure-JVM literal plan (guide §4:
    eliminate the Python boundary).

    ``createDataFrame(list)`` yields a ``LogicalRDD`` (ExistingRDD scan)
    whose every job launches a Python worker task: measured ~0.3-1.3 s
    per action even warm, and a parquet write of a ONE-ROW
    createDataFrame frame cost 3.5 s vs 0.2 s for the literal form
    (the write job serializes the python partition + commit through the
    Python runner). For plan-constant tables (dims, pattern banks,
    query lists, index meta) the inline-literal form keeps everything
    in the JVM — same rows, same schema, zero Python workers.

    ``schema`` is a DDL string; values are cast to the declared types.
    Not for big/dynamic data: each cell is a py4j literal call.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    st = T._parse_datatype_string(schema)
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(r, st.fields)
            ]
        )
        for r in rows
    ]
    # ONE partition: a default-parallelism Range under a global
    # aggregate would re-introduce an exchange these constant tables
    # exist to avoid (dims are aggregated into single-row banks)
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def get_spark(
    app_name: str = "s3_log_parser_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``cores`` may be an int, "*", or None (env SPARK_GRAFT_CPUS, then *).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, 2 * ncores)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # SPARK_GRAFT_ANSI=true runs the library under Spark 4's default
        # ANSI semantics — the driver harness uses a default session, so
        # CI must cover both modes (round-2 lesson: an element_at-on-empty
        # bug passed every ANSI-off test and died in the driver).
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # zstd beats snappy on BOTH axes here (10M-row slim write:
        # 26.9 s vs 28.4 s wall, 273 MB vs 361 MB on disk) and the
        # smaller checkpoint feeds straight into faster route-stage
        # re-reads; at 100 TB it's the storage-cost default anyway
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd level 1 (default is 3): 1.8× faster parquet encode for
        # +4% size (measured 9.7 s → 5.5 s, 275 → 286 MB on a 10 M-row
        # sink write) — the right trade for hot pipeline sinks; a cold
        # archival table sets its own level through ``extra_conf``
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
        # 64 MB scan splits (vs 128 MB default): the parse stage is
        # CPU-bound Python over *compressed* text (snappy packs ~10×),
        # so smaller bins keep every core fed on modest inputs; Spark's
        # own maxSplitBytes = min(this, max(openCost, size/parallelism))
        # already adapts downward, and AQE re-coalesces shuffle stages.
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
