"""Date-partitioned event storage: hive-partition by event date (coarse
pruning) and optionally bucket by instance within partitions
(shuffle-free sessionization, see sources/bucketing.py).
tests/test_partitioning.py verifies the PartitionFilters actually appear
in the scan.

``read_events_window`` reads the events inside a window. It is not a
billing input: its ``>= window_start`` bound drops each instance's last
event before the window, which sets the state the window opens in. The
invoice (``plans.billing.nova_invoice``) therefore prunes only at the
window's end: it drops events at or after the latest end of the window
and its outages, and needs every earlier event.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.operators.intervals import timestamp_sql


def write_events_partitioned(
    events: DataFrame, out_dir: str, ts_col: str = "ts"
) -> None:
    """Write events hive-partitioned by event date."""
    (
        events.withColumn("event_date", F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out_dir)
    )


def read_events_window(
    spark: SparkSession,
    events_dir: str,
    window_start: datetime,
    window_end: datetime,
    ts_col: str = "ts",
) -> DataFrame:
    """Scan only the partitions overlapping the billing window. The
    event_date predicate prunes directories; the ts predicate pushes into
    the row groups of the surviving files.

    The last partition kept is the date of the final instant actually in
    the half-open window, ``(window_end − 1µs).date()`` — so a window_end
    with a time-of-day component (e.g. 2024-03-15T06:00) still reads the
    final day's partition, while a midnight-aligned window_end prunes it.
    """
    last_date = (window_end - timedelta(microseconds=1)).date()
    return spark.read.parquet(events_dir).filter(
        (F.col("event_date") >= F.lit(window_start.date()))
        & (F.col("event_date") <= F.lit(last_date))
        & (F.col(ts_col) >= F.expr(timestamp_sql(window_start)))
        & (F.col(ts_col) < F.expr(timestamp_sql(window_end)))
    )
