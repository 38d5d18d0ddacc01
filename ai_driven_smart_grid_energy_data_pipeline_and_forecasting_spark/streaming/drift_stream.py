"""Streaming distribution-drift monitor.

The streaming face of ``operators/drift.py``: every micro-batch is
compared against a STATIC reference window (the "accepted" historical
distribution) and the per-category drift table lands in a
batch-partitioned parquet report — the data-quality alarm a
continuously ingesting pipeline actually runs ("did the category mix
of what just arrived shift?"), as opposed to the batch audit's
two-halves-of-history comparison.

Exactly-once effect: the report for batch N is a deterministic
function of (reference, batch N contents), so a replayed batch
rewrites its own ``batch_id=N`` partition byte-identically —
per-partition replacement IS the idempotency here, no pointer needed
(contrast ``agg_stream``, whose state is cumulative). The replacement
goes through ``upsert._staged_overwrite``, the one partition-replace
path every package writer shares (staged write, rename publish; each
batch first recovers a crashed writer with ``_clear_work_dirs``), so a
polling reader never sees a partition half-written — a missing or
partial drift row is a silently muted alarm. One writer per report directory, as for every table
(SCALE.md "Write concurrency"). Reference rates are recomputed per
batch from the (usually small, pre-aggregated) reference frame; cache
it for long streams.

Scale: per batch, two partial-agg shuffles on the category key and a
tiny write — the monitor adds no corpus-sized state and composes with
any upstream scrub/clean stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.drift import categorical_drift
from ..operators.upsert import _clear_work_dirs, _staged_overwrite
from .agg_stream import bind_checkpoint


def stream_drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    cat_col: str,
    report_path: str,
    checkpoint: str,
    threshold: float = 0.01,
):
    """Start the monitor (``availableNow`` trigger); each micro-batch
    appends its drift table under ``report_path/batch_id=N/``. The
    report directory is checkpoint-bound (``bind_checkpoint``): batch
    ids are lineage-scoped, and a foreign-checkpoint replay would
    leave stale per-batch partitions beside renumbered ones."""
    bind_checkpoint(report_path, checkpoint)

    def sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _clear_work_dirs(spark, report_path)
        rep = categorical_drift(reference, batch, cat_col, threshold=threshold)
        _staged_overwrite(
            spark, report_path, rep.withColumn("batch_id", F.lit(batch_id)), ["batch_id"]
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_drift_reports(spark, report_path: str) -> DataFrame:
    """All per-batch drift tables with their ``batch_id`` recovered
    from the directory layout."""
    return (
        spark.read.option("basePath", report_path)
        .parquet(f"{report_path}/batch_id=*")
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )
