"""Table-format seam: Iceberg when a runtime catalog is configured,
partitioned Parquet otherwise (SURVEY.md §7 — no Iceberg jar in this
sandbox, identical call sites either way).

Both branches take the same identity-column partition spec
(``partition_by``); the sinks partition by day, so time-ranged queries
prune partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        cat = spark.conf.get("spark.sql.catalog.spark_catalog", None)
    except Exception:
        cat = None
    return bool(cat and "iceberg" in str(cat).lower())


class Catalog:
    """Minimal write/read abstraction over the format seam."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = _iceberg_available(spark)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: tuple[str, ...] = (),
    ) -> None:
        """Write ``df`` with the same ``partition_by`` identity columns
        on both format branches. A partitioned parquet overwrite of no
        rows leaves only ``_SUCCESS``, which no reader can infer a
        schema from; when a FileSystem listing (not a Spark job) finds
        no data, one schema-only file takes its place, partition
        columns last as a partitioned read-back orders them."""
        if self.iceberg:
            self._write_iceberg(df, table, mode, partition_by)
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        if partition_by and mode == "overwrite" and not self._has_data(table):
            data = [c for c in df.columns if c not in partition_by]
            df.limit(0).select(*data, *partition_by).write.mode(
                "overwrite"
            ).parquet(self.path(table))

    def _has_data(self, table: str) -> bool:
        """whether the table's directory holds a partition or a data
        file (anything but ``_``/``.``-prefixed metadata)."""
        from .maintenance import _fs_for

        fs, path = _fs_for(self.spark, self.path(table))
        return any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(path)
        )

    def _write_iceberg(
        self, df: DataFrame, table: str, mode: str, partition_by: tuple[str, ...]
    ) -> None:
        """Iceberg branch of the seam. The partition spec mirrors the
        parquet branch exactly (contract-tested via a mocked writeTo in
        tests/test_catalog.py — no runtime jar in this sandbox)."""
        from pyspark.sql import functions as F

        w = df.writeTo(f"{table}")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """``schema`` (parquet branch only) skips the schema-inference
        job; a file-source read makes every field nullable. The Iceberg
        branch takes the table's own schema."""
        if self.iceberg:  # pragma: no cover
            return self.spark.table(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

