"""Streaming document ingestion with incremental dedup — the
continuous form of the daily loop (``incremental_dedup`` →
accept → ``append_to_dedup_index``).

A documents stream (file / Iceberg / Kafka behind the same seam) is
consumed in micro-batches; each batch is deduplicated first against
ITSELF (a batch can carry its own duplicates), then against the
persisted :class:`~..operators.dedup.DedupIndex` — so the cost per
batch is O(batch): the history side is three columnar index tables,
never the raw corpus (the same guarantee the batch path pins with a
no-history-scan plan test).

Replay semantics (foreachBatch re-runs a batch after a crash, and the
two sinks — accepted parquet + index tables — cannot be committed
atomically):

- the accepted output is partitioned by ``_batch`` and written with
  dynamic partition overwrite, so a replayed batch REPLACES its own
  partition instead of appending a duplicate;
- the index append happens AFTER the output write. If the crash lands
  between them, the replay re-derives the same accepted set (the index
  does not yet contain the batch) and both writes redo identically.
  If the crash lands after the index append, the replay's accepted set
  can only SHRINK (its docs now hit the index) — the overwrite then
  empties the partition, and the batch's docs live in the index but
  not the output. That failure window is the documented trade: a
  re-run under-emits rather than ever double-emitting, and a
  maintenance re-scan of index digests vs output can reconcile.
  Exactly-once across two independent sinks needs a transactional
  table format (the Iceberg seam, SURVEY §7) — not pretended here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.audit import Check, audit
from ..operators.dedup import (
    append_to_dedup_index,
    exact_dedup,
    incremental_dedup,
    read_dedup_index,
)


def start_ingest(
    docs_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    near: bool = True,
    threshold_x1000: int = 500,
    checks: list[Check] | None = None,
    on_audit_fail: str = "raise",
) -> StreamingQuery:
    """start the ingestion stream: per micro-batch, intra-batch exact
    dedup → :func:`incremental_dedup` against the index at
    ``index_path`` (its meta table fixes n/k/mode — a stream can't
    silently mix hash families) → accepted docs to
    ``{out_dir}/accepted`` (partitioned by ``_batch``) → index append.
    The query drains available input and stops (the daily-batch
    deployment mode).

    ``checks`` (``operators.audit`` expectations) gate each batch
    BEFORE any dedup work touches it: the one-scan audit report is
    written to ``{out_dir}/audit`` (partitioned by ``_batch`` — the
    auditable trail of what each batch looked like, replay-safe via
    dynamic overwrite like the accepted output), and on any failed
    check the batch is either aborted (``on_audit_fail="raise"``, the
    stop-the-line default) or skipped whole (``"skip"`` — the report
    partition records why a batch is absent from accepted). Batch-
    level, not row-level, by design: a failed expectation means the
    UPSTREAM producer broke contract, and quarantining individual
    rows would hide that."""
    if on_audit_fail not in ("raise", "skip"):
        raise ValueError(
            f"on_audit_fail must be 'raise' or 'skip', got {on_audit_fail!r}"
        )

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if checks:
            rep = audit(batch, checks).withColumn(
                "_batch", F.lit(batch_id)
            )
            (
                rep.coalesce(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch")
                .parquet(f"{out_dir}/audit")
            )
            failed = [
                r["check"]
                for r in spark.read.parquet(f"{out_dir}/audit")
                .filter((F.col("_batch") == batch_id) & ~F.col("passed"))
                .collect()
            ]
            if failed:
                if on_audit_fail == "raise":
                    raise ValueError(
                        f"ingest batch {batch_id} failed audit: {failed}"
                    )
                return  # skip the batch; the audit table records why
        batch = exact_dedup(
            batch, key_cols=(text_col,), order=(id_col,)
        ).drop("dup_count")
        index = read_dedup_index(spark, index_path)
        accepted = incremental_dedup(
            batch,
            id_col=id_col,
            text_col=text_col,
            near=near,
            threshold_x1000=threshold_x1000,
            n=index.n,
            k=index.k,
            mode=index.mode,
            index=index,
        ).persist()
        try:
            (
                accepted.withColumn("_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch")
                .parquet(f"{out_dir}/accepted")
            )
            if accepted.count() > 0:
                append_to_dedup_index(
                    accepted, index_path, id_col, text_col
                )
        finally:
            accepted.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
