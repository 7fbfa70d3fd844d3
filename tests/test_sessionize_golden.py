"""Golden parity tests for the sessionization operator.

Each scenario is a verbatim port of the reference's unit suite
(/root/reference/src/openstack_billing_db/tests/unit/test_instance.py and
test_billing.py) — the semantic spec of the state machine (SURVEY.md §5,
FIXTURES.md §2). Expected values are the reference's pinned assertions in
seconds of Running / Stopped time within the billing window.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from openstack_billing_from_db_spark.operators.sessionize import (
    build_state_intervals_bucketed,
    map_event_states,
    state_micros_in_window,
    with_synthetic_deletes,
)
from openstack_billing_from_db_spark.plans.billing import instance_runtime

WINDOW_START = datetime(2000, 1, 1)
WINDOW_END = datetime(2000, 2, 1)
BASE = datetime(2000, 1, 2)  # offsets base used by the reference fixtures

MIN = 60
HOUR = 3600
DAY = 24 * HOUR
MONTH = 31 * DAY


def _events_df(spark, rows, ts_type="timestamp"):
    """rows: (ts, action, message) for a single instance 'i1'."""
    data = [("i1", ts, action, message) for ts, action, message in rows]
    return spark.createDataFrame(
        data, f"instance_uuid string, created_at {ts_type}, action string, message string"
    )


def _instances_df(spark, deleted_at, ts_type="timestamp"):
    return spark.createDataFrame(
        [("i1", deleted_at)], f"uuid string, deleted_at {ts_type}"
    )


def _runtime(
    spark,
    rows,
    deleted_at=None,
    window=(WINDOW_START, WINDOW_END),
    outages=(),
    ts_type="timestamp",
    bucketed=False,
):
    events = _events_df(spark, rows, ts_type)
    instances = _instances_df(spark, deleted_at, ts_type) if deleted_at is not None else None
    if bucketed:
        states = map_event_states(events)
        if instances is not None:
            states = with_synthetic_deletes(states, instances)
        runtime = state_micros_in_window(
            build_state_intervals_bucketed(states), *window, outages=outages
        )
    else:
        runtime = instance_runtime(
            events, window[0], window[1], instances=instances, outages=outages
        )
    out = runtime.collect()
    if not out:
        return 0, 0
    row = out[0]
    assert row.running_us % 1_000_000 == 0 and row.stopped_us % 1_000_000 == 0
    return row.running_us // 1_000_000, row.stopped_us // 1_000_000


def off(**kw):
    return BASE + timedelta(**kw)


# --- test_instance.py ports (reference line refs in comments) ---


def test_create_then_delete(spark):  # test_instance.py:8-23
    r, s = _runtime(spark, [(off(), "create", ""), (off(minutes=30), "delete", "")])
    assert (r, s) == (30 * MIN, 0)


def test_events_before_window_clamp_to_zero(spark):  # test_instance.py:26-41
    t0 = datetime(1991, 1, 2)
    r, s = _runtime(spark, [(t0, "create", ""), (t0 + timedelta(minutes=30), "delete", "")])
    assert (r, s) == (0, 0)


def test_started_before_still_running_bills_whole_month(spark):  # test_instance.py:44-56
    r, s = _runtime(spark, [(datetime(1991, 1, 2), "create", "")])
    assert (r, s) == (MONTH, 0)


def test_stop_start_splits_running_stopped(spark):  # test_instance.py:59-78
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=40), "stop", ""),
            (off(days=1), "start", ""),
            (off(days=1, minutes=40), "delete", ""),
        ],
    )
    assert (r, s) == (80 * MIN, DAY - 40 * MIN)


def test_deleted_at_without_delete_event(spark):  # test_instance.py:81-99
    r, s = _runtime(spark, [(off(), "create", "")], deleted_at=off(days=1, minutes=40))
    assert (r, s) == (DAY + 40 * MIN, 0)


def test_deleted_at_outside_window_feb(spark):  # test_instance.py:102-108
    r, s = _runtime(
        spark,
        [(off(), "create", "")],
        deleted_at=off(days=1, minutes=40),
        window=(datetime(2000, 2, 1), datetime(2000, 3, 1)),
    )
    assert (r, s) == (0, 0)


def test_deleted_at_outside_window_nov1999(spark):  # test_instance.py:109-115
    r, s = _runtime(
        spark,
        [(off(), "create", "")],
        deleted_at=off(days=1, minutes=40),
        window=(datetime(1999, 11, 1), datetime(1999, 12, 1)),
    )
    assert (r, s) == (0, 0)


def test_stopped_then_deleted_at(spark):  # test_instance.py:118-137
    r, s = _runtime(
        spark,
        [(off(), "create", ""), (off(minutes=40), "stop", "")],
        deleted_at=off(days=1, minutes=40),
    )
    assert (r, s) == (40 * MIN, DAY)


def test_stop_start_then_deleted_at(spark):  # test_instance.py:140-160
    rows = [
        (off(), "create", ""),
        (off(minutes=40), "stop", ""),
        (off(days=1), "start", ""),
    ]
    # naive parquet times (TIMESTAMP_NTZ) bill the same instants, through
    # the single-pass and the bucketed interval builder alike
    for ts_type, bucketed in (
        ("timestamp", False),
        ("timestamp_ntz", False),
        ("timestamp_ntz", True),
    ):
        r, s = _runtime(
            spark, rows, deleted_at=off(days=1, minutes=40), ts_type=ts_type, bucketed=bucketed
        )
        assert (r, s) == (80 * MIN, DAY - 40 * MIN), (ts_type, bucketed)


def test_create_stop_delete_hour_each(spark):  # test_instance.py:163-182
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(hours=1), "stop", ""),
            (off(hours=2), "delete", ""),
        ],
    )
    assert (r, s) == (HOUR, HOUR)


def test_shelve_unshelve_excluded(spark):  # test_instance.py:185-206
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=40), "shelve", ""),
            (off(days=1), "unshelve", ""),
        ],
        deleted_at=off(days=1, minutes=40),
    )
    assert (r, s) == (80 * MIN, 0)


def test_shelved_then_deleted_at(spark):  # test_instance.py:209-228
    r, s = _runtime(
        spark,
        [(off(), "create", ""), (off(minutes=40), "shelve", "")],
        deleted_at=off(days=1, minutes=40),
    )
    assert (r, s) == (40 * MIN, 0)


def test_shelve_stop_interaction(spark):  # test_instance.py:231-257
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=40), "stop", ""),
            (off(days=1), "start", ""),
            (off(days=1, hours=6), "shelve", ""),
            (off(days=1, hours=12), "unshelve", ""),
        ],
        deleted_at=off(days=2),
    )
    assert (r, s) == (40 * MIN + 18 * HOUR, DAY - 40 * MIN)


def test_error_created(spark):  # test_instance.py:260-275
    r, s = _runtime(
        spark, [(off(), "create", "Error"), (off(hours=1), "delete", "")]
    )
    assert (r, s) == (0, 0)


def test_failed_restart(spark):  # test_instance.py:278-299
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=45), "stop", ""),
            (off(hours=1), "start", "Error"),
            (off(hours=1, minutes=10), "delete", ""),
        ],
    )
    assert (r, s) == (45 * MIN, 15 * MIN)


def test_error_then_successful_restart(spark):  # test_instance.py:302-326
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=45), "stop", ""),
            (off(hours=1), "start", "Error"),
            (off(hours=1, minutes=15), "start", ""),
            (off(hours=1, minutes=25), "delete", ""),
        ],
    )
    assert (r, s) == (55 * MIN, 15 * MIN)


def test_error_before_window(spark):  # test_instance.py:342-354
    r, s = _runtime(spark, [(WINDOW_START - timedelta(hours=1), "create", "Error")])
    assert (r, s) == (0, 0)


def test_error_after_window_bills_whole_month(spark):  # test_instance.py:355-362
    r, s = _runtime(
        spark,
        [
            (WINDOW_START, "create", ""),
            (WINDOW_END + timedelta(hours=1), "stop", "Error"),
        ],
    )
    assert (r, s) == (MONTH, 0)


# --- test_billing.py:10-36 port: outage exclusion ---


def test_outage_exclusion(spark):
    r, s = _runtime(
        spark,
        [
            (datetime(2000, 1, 1), "create", ""),
            (datetime(2000, 1, 16), "delete", ""),
        ],
        outages=[
            (datetime(2000, 1, 7), datetime(2000, 1, 8)),
            (datetime(2000, 1, 1, 9), datetime(2000, 1, 1, 10)),
        ],
    )
    assert (r, s) == (15 * DAY - DAY - HOUR, 0)


def test_overlapping_outages_double_subtract(spark):
    """Reference quirk (SURVEY.md §2.11 #10): overlapping outages are each
    subtracted independently."""
    r, s = _runtime(
        spark,
        [(datetime(2000, 1, 1), "create", ""), (datetime(2000, 1, 2), "delete", "")],
        outages=[
            (datetime(2000, 1, 1, 0), datetime(2000, 1, 1, 2)),
            (datetime(2000, 1, 1, 1), datetime(2000, 1, 1, 3)),
        ],
    )
    assert (r, s) == (DAY - 2 * HOUR - 2 * HOUR + 0, 0)


# --- documented deviations (SURVEY.md §2.11 #4): reference crashes here ---


def test_zero_events_yields_zero_not_crash(spark):
    events = spark.createDataFrame(
        [], "instance_uuid string, created_at timestamp, action string, message string"
    )
    instances = _instances_df(spark, datetime(2000, 1, 5))
    out = instance_runtime(events, WINDOW_START, WINDOW_END, instances=instances).collect()
    # a deleted_at-only instance has no interval to end → no row, so
    # nothing billed
    assert out == []


def test_ignored_actions_do_not_transition(spark):
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=10), "resize", ""),  # not a trigger (model.py:141-150)
            (off(minutes=30), "delete", ""),
        ],
    )
    assert (r, s) == (30 * MIN, 0)


def test_duplicate_same_state_trigger_is_noop(spark):
    r, s = _runtime(
        spark,
        [
            (off(), "create", ""),
            (off(minutes=10), "start", ""),  # already Running (model.py:109-117)
            (off(minutes=30), "delete", ""),
        ],
    )
    assert (r, s) == (30 * MIN, 0)
