"""Incremental billing maintenance: a streaming pipeline that keeps a
queryable runtime aggregate up to date as events arrive.

Each micro-batch's aggregate is one epoch of an epoch log, kept
exactly-once by :func:`streaming.sessions.run_epoch_stream`, and the
reader sums across epochs. With a transactional table format (Delta,
Iceberg) this becomes a single MERGE INTO — the stream topology is
unchanged.

At scale: each epoch writes only the instances active in that
micro-batch; the reader-side sum is a partition-pruned aggregation, and
periodic compaction (rewrite epochs into one base) bounds file counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.streaming.sessions import (
    run_epoch_stream,
    stream_events,
    streaming_state_intervals,
)


def run_incremental_runtime(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    trigger_states: dict[str, str],
) -> None:
    """Stream events → stateful sessionization → per-epoch runtime
    aggregates under ``target_dir/epoch=N/``. Runs to completion on the
    available files (processAllAvailable) and stops."""
    run_epoch_stream(
        streaming_state_intervals(stream_events(spark, sf_dir), trigger_states),
        lambda batch_df, epoch_id, snapshot: {
            target_dir: batch_df.groupBy("instance_uuid", "state").agg(
                F.sum(F.col("end_us") - F.col("start_us")).alias("micros")
            )
        },
        checkpoint_dir,
    )


def read_incremental_runtime(spark: SparkSession, target_dir: str) -> DataFrame:
    """Current totals: sum the per-epoch partial aggregates."""
    return (
        spark.read.parquet(target_dir)
        .groupBy("instance_uuid", "state")
        .agg(F.sum("micros").alias("micros"))
    )
