"""Per-run stage manifest + per-partition lineage metrics (north_rule:
"every stage checkpoints per-partition lineage and row/byte metrics so
a killed run resumes idempotently").

Design (SURVEY.md §4.4): the slim table is the data checkpoint; this
module adds (a) a JSON stage manifest keyed (run_id, stage) — a stage
whose manifest entry exists is skipped on re-run, so a killed run
resumes after its last completed write — and (b) a ``_lineage`` metrics
table (partition id, rows, approximate bytes) from one JVM aggregate
over ``spark_partition_id()`` — no row crosses into Python.

On Iceberg the manifest role is played by snapshot metadata; the JSON
manifest is the format-seam fallback and is what the kill/resume test
exercises.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.maintenance import _fs_for


class Manifest:
    """``<root>/_manifest/<run_id>/<stage>.json``, one file per
    completed stage, through the Hadoop FileSystem API so that a
    ``file://``, ``hdfs://`` or ``s3a://`` root holds its own manifest
    next to its tables."""

    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.dir = f"{root.rstrip('/')}/_manifest/{run_id}"
        self._fs, jdir = _fs_for(spark, self.dir)
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs.mkdirs(jdir)

    def _path(self, stage: str) -> str:
        safe = stage.replace("/", "_").replace(":", "_")
        return f"{self.dir}/{safe}.json"

    def complete(self, stage: str) -> bool:
        return self._fs.exists(self._Path(self._path(stage)))

    def mark(self, stage: str, **meta) -> None:
        # write-then-rename: a reader sees the whole entry or none
        target = self._Path(self._path(stage))
        tmp = self._Path(self._path(stage) + ".tmp")
        body = json.dumps({"stage": stage, "ts": time.time(), **meta})
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(body.encode("utf-8")))
        finally:
            out.close()
        if self._fs.exists(target):  # rename never replaces a file
            self._fs.delete(target, False)
        if not self._fs.rename(tmp, target):  # pragma: no cover
            raise RuntimeError(f"manifest: rename failed: {target}")

    def stages(self) -> list[str]:
        names = [
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(self.dir))
        ]
        return sorted(
            n[: -len(".json")]
            for n in names
            if n.endswith(".json") and not n.startswith(".")
        )


def partition_metrics(df: DataFrame) -> DataFrame:
    """``(_part_id int, rows long, approx_bytes long)`` per partition of
    ``df``, as one map-side-combined aggregate over
    ``spark_partition_id()``. ``approx_bytes`` is ``rows`` times the
    schema's summed per-type ``defaultSize`` — Spark's own size
    estimate for a row of that schema, not a measured payload."""
    row_bytes = df._jdf.schema().defaultSize()  # JVM StructType: Σ fields
    return df.groupBy(F.spark_partition_id().alias("_part_id")).agg(
        F.count("*").alias("rows"),
        (F.count("*") * row_bytes).cast("long").alias("approx_bytes"),
    )
