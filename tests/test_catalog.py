"""Catalog seam contract: the Iceberg and Parquet branches must take
identical partition specs (VERDICT r1 #7 — the writeTo branch used to
drop partition_by silently; no Iceberg jar in the sandbox, so the
Iceberg side is exercised through a mocked DataFrameWriterV2)."""

import os

import pytest

from s3_log_parser_spark.sources.catalog import Catalog


class FakeWriterV2:
    def __init__(self, table):
        self.table = table
        self.partitioned = None
        self.finished = None

    def partitionedBy(self, *cols):
        self.partitioned = cols
        return self

    def createOrReplace(self):
        self.finished = "createOrReplace"

    def append(self):
        self.finished = "append"


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [(f"c{i}", i % 3, i) for i in range(20)],
        "conv_id string, day_bucket int, v int",
    )


def test_iceberg_branch_receives_partition_spec(spark, df, monkeypatch, tmp_path):
    captured = {}

    def fake_writeTo(self, table):
        w = FakeWriterV2(table)
        captured[table] = w
        return w

    # Spark 4: pyspark.sql.DataFrame is the abstract facade; patch the
    # concrete runtime class
    monkeypatch.setattr(type(df), "writeTo", fake_writeTo)
    cat = Catalog(spark, str(tmp_path))
    cat.iceberg = True
    cat.write(df, "slim", mode="overwrite", partition_by=("day_bucket", "v"))
    w = captured["slim"]
    assert w.finished == "createOrReplace"
    specs = [str(c._jc.toString()) for c in w.partitioned]
    assert specs == ["day_bucket", "v"]

    cat.write(df, "slim2", mode="append", partition_by=("day_bucket",))
    assert captured["slim2"].finished == "append"
    assert len(captured["slim2"].partitioned) == 1


def test_parquet_branch_same_spec(spark, df, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    assert not cat.iceberg
    cat.write(df, "slim", mode="overwrite", partition_by=("day_bucket", "v"))
    root = cat.path("slim")
    # the same identity columns, nested in spec order, on disk
    days = [d for d in os.listdir(root) if d.startswith("day_bucket=")]
    assert sorted(days) == ["day_bucket=0", "day_bucket=1", "day_bucket=2"]
    vs = os.listdir(os.path.join(root, "day_bucket=0"))
    assert sorted(vs) == sorted(f"v={i}" for i in range(0, 20, 3))
    back = cat.read("slim")
    assert back.count() == 20
    assert sorted(r.v for r in back.collect()) == list(range(20))
