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
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Manifest:
    def __init__(self, root: str, run_id: str):
        self.dir = os.path.join(root, "_manifest", run_id)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        safe = stage.replace("/", "_").replace(":", "_")
        return os.path.join(self.dir, f"{safe}.json")

    def complete(self, stage: str) -> bool:
        return os.path.exists(self._path(stage))

    def mark(self, stage: str, **meta) -> None:
        tmp = self._path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stage": stage, "ts": time.time(), **meta}, f)
        os.replace(tmp, self._path(stage))  # atomic → no torn manifests

    def stages(self) -> list[str]:
        return sorted(
            f[: -len(".json")] for f in os.listdir(self.dir) if f.endswith(".json")
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
