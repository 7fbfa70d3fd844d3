"""Naive window bounds mean UTC whatever the driver's local time zone:
every window literal goes through ``intervals.to_micros`` (``F.lit`` of a
naive datetime would be read in the driver's zone by py4j)."""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pytest

from openstack_billing_from_db_spark.plans.billing import nova_instance_dim
from openstack_billing_from_db_spark.schemas import INSTANCES
from openstack_billing_from_db_spark.sources.partitioning import (
    read_events_window,
    write_events_partitioned,
)

DAY_ONE = datetime(2024, 3, 1)


@pytest.fixture
def driver_in_new_york(monkeypatch):
    """The driver process five hours west of UTC; the JVM is unchanged."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_liveness_cutoff_is_utc(spark, driver_in_new_york):
    """Deleted at 02:00 UTC on the window's first day: still billable."""
    deleted_at = datetime(2024, 3, 1, 2, tzinfo=timezone.utc)
    instances = spark.createDataFrame(
        [("deleted_day_one", "h", "p1", 1, 1, 4096, 1, deleted_at)], INSTANCES
    )
    dim = nova_instance_dim(instances, None, DAY_ONE)
    assert [r.uuid for r in dim.collect()] == ["deleted_day_one"]


def test_partitioned_window_bounds_are_utc(spark, tmp_path, driver_in_new_york):
    out = str(tmp_path / "events_by_date")
    events = spark.sql(
        "SELECT * FROM VALUES (1, TIMESTAMP'2024-03-01 01:00:00'),"
        " (2, TIMESTAMP'2024-03-02 01:00:00') AS e(user_id, ts)"
    )
    write_events_partitioned(events, out)
    window = read_events_window(spark, out, DAY_ONE, datetime(2024, 3, 2))
    assert [r.user_id for r in window.collect()] == [1]
