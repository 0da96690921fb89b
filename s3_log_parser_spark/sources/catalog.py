"""Table-format seam: Iceberg when a runtime catalog is configured,
partitioned Parquet otherwise (SURVEY.md §7 — no Iceberg jar in this
sandbox, identical call sites either way).

At 100 TB the real deployment is Iceberg with ``bucket(N, conv_id)``
partitioning on the fact/slim tables (co-locates a conversation's
turns → the stable-turn-ordering window and conv-keyed aggregations
shuffle-free via storage-partitioned joins) and day partitioning on
the sinks (partition pruning for time-ranged queries).
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
        bucket: tuple[int, str] | None = None,
    ) -> None:
        """Write ``df`` with an identical partition spec on both format
        branches: ``partition_by`` identity columns plus an optional
        ``bucket=(N, col)`` transform (Iceberg ``bucket(N, col)``; on
        the Parquet fallback a derived ``_bucket`` identity column —
        same row co-location, coarser pruning)."""
        if self.iceberg:
            self._write_iceberg(df, table, mode, partition_by, bucket)
            return
        w_df = df
        parts = list(partition_by)
        if bucket is not None:
            n, col = bucket
            from pyspark.sql import functions as F

            w_df = df.withColumn("_bucket", F.pmod(F.xxhash64(col), F.lit(n)))
            parts.append("_bucket")
        w = w_df.write.mode(mode)
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(self.path(table))

    def _write_iceberg(
        self,
        df: DataFrame,
        table: str,
        mode: str,
        partition_by: tuple[str, ...],
        bucket: tuple[int, str] | None,
    ) -> None:
        """Iceberg branch of the seam. The partition spec mirrors the
        parquet branch exactly (contract-tested via a mocked writeTo in
        tests/test_catalog.py — no runtime jar in this sandbox)."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import partitioning

        w = df.writeTo(f"{table}")
        transforms = [F.col(c) for c in partition_by]
        if bucket is not None:
            n, col = bucket
            transforms.append(partitioning.bucket(n, col))
        if transforms:
            w = w.partitionedBy(transforms[0], *transforms[1:])
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

