"""Randomized differential test: the Spark sessionization vs an
independent driver-side simulator of the reference semantics
(model.py:90-156 behavior re-derived from SURVEY.md §2.5 — clamped
per-event state accumulation), over hundreds of random event sequences
evaluated in a single DataFrame pass."""

from __future__ import annotations

import bisect
import random
from datetime import datetime, timedelta, timezone

import pytest

from openstack_billing_from_db_spark.operators.sessionize import (
    DEFAULT_TRIGGER_STATES,
    build_state_intervals,
    build_state_intervals_bucketed,
    map_event_states,
    state_micros_in_window,
    with_synthetic_deletes,
)
from openstack_billing_from_db_spark.plans.billing import instance_runtime, nova_invoice
from openstack_billing_from_db_spark.sources.rates import rates_df

WINDOW = (datetime(2000, 1, 1), datetime(2000, 2, 1))
ACTIONS = ["create", "start", "stop", "shelve", "unshelve", "delete", "resize", "noop"]
MESSAGES = ["", "", "", "Error"]


def simulate(events, window_start, window_end, outages=()):
    """Reference-semantics simulator: ordered events, per-event clamping,
    duplicate-state suppression, Error re-entry; runtime minus the same
    machine replayed per outage window."""

    def clamp(t, lo, hi):
        return min(max(t, lo), hi)

    def run(lo, hi):
        totals = {"Running": 0.0, "Stopped": 0.0, "Shelved": 0.0, "Deleted": 0.0, "Error": 0.0}
        current, entered = None, None
        for ts, action, message in events:
            t = clamp(ts, lo, hi)
            if message == "Error":
                if current is not None:
                    totals[current] += (t - entered).total_seconds()
                current, entered = "Error", t
                continue
            state = DEFAULT_TRIGGER_STATES.get(action)
            if state is None:
                continue
            if current is None:
                current, entered = state, t
            elif state != current:
                totals[current] += (t - entered).total_seconds()
                current, entered = state, t
        if current is not None:
            totals[current] += (hi - entered).total_seconds()
        return totals["Running"], totals["Stopped"]

    r, s = run(window_start, window_end)
    for o_start, o_end in outages:
        xr, xs = run(o_start, o_end)
        r, s = r - xr, s - xs
    return int(r), int(s)


def _random_case(rng, instance_id):
    n = rng.randint(1, 12)
    t = WINDOW[0] + timedelta(hours=rng.randint(-100, 200))
    rows = []
    for _ in range(n):
        t = t + timedelta(minutes=rng.randint(1, 2000))
        rows.append((instance_id, t, rng.choice(ACTIONS), rng.choice(MESSAGES)))
    return rows


def test_random_sequences_match_simulator(spark):
    rng = random.Random(20260813)
    all_rows, expected = [], {}
    for i in range(300):
        iid = f"i{i}"
        rows = _random_case(rng, iid)
        all_rows.extend(rows)
        expected[iid] = simulate(
            [(ts, a, m) for _, ts, a, m in rows], *WINDOW
        )

    events = spark.createDataFrame(
        all_rows, "instance_uuid string, created_at timestamp, action string, message string"
    )
    got = {
        r.instance_uuid: (r.running_us // 1_000_000, r.stopped_us // 1_000_000)
        for r in instance_runtime(events, *WINDOW).collect()
    }
    mismatches = {
        iid: (got.get(iid, (0, 0)), exp)
        for iid, exp in expected.items()
        if got.get(iid, (0, 0)) != exp
    }
    assert not mismatches, f"{len(mismatches)} mismatching instances: {list(mismatches.items())[:5]}"


def test_random_sequences_with_outages(spark):
    rng = random.Random(99)
    outages = [
        (datetime(2000, 1, 5), datetime(2000, 1, 6)),
        (datetime(2000, 1, 10, 6), datetime(2000, 1, 10, 18)),
    ]
    all_rows, expected = [], {}
    for i in range(150):
        iid = f"o{i}"
        rows = _random_case(rng, iid)
        all_rows.extend(rows)
        expected[iid] = simulate(
            [(ts, a, m) for _, ts, a, m in rows], *WINDOW, outages=outages
        )

    events = spark.createDataFrame(
        all_rows, "instance_uuid string, created_at timestamp, action string, message string"
    )
    got = {
        r.instance_uuid: (r.running_us // 1_000_000, r.stopped_us // 1_000_000)
        for r in instance_runtime(events, *WINDOW, outages=outages).collect()
    }
    mismatches = {
        iid: (got.get(iid, (0, 0)), exp)
        for iid, exp in expected.items()
        if got.get(iid, (0, 0)) != exp
    }
    assert not mismatches, f"{len(mismatches)} mismatches: {list(mismatches.items())[:5]}"


# where each instance's deleted_at falls relative to its events
_DELETE_KINDS = ("none", "event", "tied", "before", "after", "between")


def _deleted_case(rng, instance_id, kind):
    """(events, deleted_at): a random case plus a deleted_at of ``kind``;
    "tied" duplicates an event (same timestamp, same state) and deletes
    at that timestamp."""
    rows = _random_case(rng, instance_id)
    times = [ts for _, ts, _, _ in rows]
    if kind == "tied":
        k = rng.randrange(len(rows))
        rows.insert(k, rows[k])
        return rows, times[k]
    if kind == "none":
        return rows, None
    if kind == "event":
        return rows, rng.choice(times)
    if kind == "before":
        return rows, times[0] - timedelta(minutes=rng.randint(1, 5000))
    if kind == "after":
        return rows, times[-1] + timedelta(minutes=rng.randint(1, 50000))
    return rows, times[0] + (times[-1] - times[0]) * rng.random()


@pytest.mark.parametrize(
    "builder", [build_state_intervals, build_state_intervals_bucketed]
)
def test_delete_clamp_equals_synthetic_delete_union(spark, builder):
    """``instance_runtime(..., instances=...)`` ends the interval holding
    deleted_at there; the reference formulation appends a synthetic
    Deleted event instead. Same runtimes for every placement of
    deleted_at, except that an instance with no state-changing event gets
    no row instead of a zero row. Dimension columns ride along (left join)."""
    rng = random.Random(20261017)
    outages = [(datetime(2000, 1, 5), datetime(2000, 1, 6))]
    events, dim = [], []
    for i in range(240):
        iid = f"d{i}"
        rows, deleted_at = _deleted_case(rng, iid, _DELETE_KINDS[i % len(_DELETE_KINDS)])
        events.extend(rows)
        if i % 7 != 3:  # the rest are missing from the dimension
            dim.append((iid, deleted_at, f"p{i % 5}"))
    for j in range(6):  # deleted instances without events
        dim.append((f"z{j}", WINDOW[0] + timedelta(days=j), "pz"))

    events_df = spark.createDataFrame(
        events, "instance_uuid string, created_at timestamp, action string, message string"
    )
    dim_df = spark.createDataFrame(
        dim, "uuid string, deleted_at timestamp, project_id string"
    )
    union = with_synthetic_deletes(map_event_states(events_df), dim_df)
    want = {
        r.instance_uuid: (r.running_us, r.stopped_us)
        for r in state_micros_in_window(builder(union), *WINDOW, outages=outages).collect()
    }
    got = {
        r.instance_uuid: (r.project_id, r.running_us, r.stopped_us)
        for r in instance_runtime(
            events_df, *WINDOW, instances=dim_df, outages=outages
        ).collect()
    }
    projects = {uuid: project for uuid, _, project in dim}
    with_events = {  # instances with at least one state-changing event
        iid
        for iid, _, action, message in events
        if message == "Error" or action in DEFAULT_TRIGGER_STATES
    }

    assert set(got) == with_events
    without = {iid: want[iid] for iid in want if iid not in with_events}
    assert {f"z{j}" for j in range(6)} <= set(without)
    assert set(without.values()) == {(0, 0)}
    mismatches = {
        iid: (got[iid], want[iid])
        for iid in with_events
        if got[iid] != (projects.get(iid), *want[iid])
    }
    assert not mismatches, f"{len(mismatches)} mismatches: {list(mismatches.items())[:5]}"


# --- the invoice drops events at or after the latest end of its terms ------

PRUNED_WINDOW = (datetime(2000, 1, 1), datetime(2000, 1, 6))  # most events end later
_DIM_SCHEMA = "uuid string, project_id string, su_type string, service_units int, deleted_at timestamp"
_EVENTS_SCHEMA = "instance_uuid string, created_at timestamp, action string, message string"
_UTC_P1, _UTC_M2 = timezone(timedelta(hours=1)), timezone(timedelta(hours=-2))


def _utc_naive(t):
    return t if t.tzinfo is None else t.astimezone(timezone.utc).replace(tzinfo=None)


def _with_delete(events, deleted_at):
    """The reference's synthetic Deleted event at ``deleted_at``, after a
    real event at the same time."""
    if deleted_at is None:
        return events
    k = bisect.bisect_right([ts for ts, _, _ in events], deleted_at)
    return [*events[:k], (deleted_at, "delete", ""), *events[k:]]


def _invoice_hours(spark, events, dim, window, outages):
    return {
        r.project_id: r.su_hours
        for r in nova_invoice(
            spark.createDataFrame(events, _EVENTS_SCHEMA),
            spark.createDataFrame(dim, _DIM_SCHEMA),
            rates_df(spark),
            *window,
            outages=outages,
        ).collect()
    }


@pytest.mark.parametrize(
    "outages",
    [
        (),
        ((datetime(2000, 1, 2), datetime(2000, 1, 3)), (datetime(2000, 1, 5, 12), datetime(2000, 1, 8))),
        # aware outages against a naive window; the later one ends past it
        (
            (datetime(2000, 1, 3, 1, tzinfo=_UTC_P1), datetime(2000, 1, 3, 12, tzinfo=timezone.utc)),
            (datetime(2000, 1, 5, 18, tzinfo=timezone.utc), datetime(2000, 1, 7, 6, tzinfo=_UTC_M2)),
        ),
    ],
    ids=["window-end", "outage-past-end", "aware-outages"],
)
def test_invoice_pruning_matches_simulator(spark, outages):
    """Per-project SU hours of ``nova_invoice`` equal the simulator's, on
    windows where the end bound drops events: events after the window's
    end, an event exactly at ``hi`` (the latest term end), an outage
    ending past the window, deletions at and after ``hi``. The outages
    are passed as a generator."""
    rng = random.Random(20261017)
    hi = max(_utc_naive(t) for t in (PRUNED_WINDOW[1], *(end for _, end in outages)))
    events, dim, want = [], [], {}
    for i in range(240):
        iid, project, units = f"h{i}", f"p{i % 5}", i % 3 + 1
        rows, deleted_at = _deleted_case(rng, iid, _DELETE_KINDS[i % len(_DELETE_KINDS)])
        if i % 4 == 0:
            rows = sorted([*rows, (iid, hi, rng.choice(ACTIONS[:5]), "")], key=lambda r: r[1])
        if i % 9 == 0:
            deleted_at = hi
        elif i % 9 == 1:
            deleted_at = hi + timedelta(minutes=rng.randint(1, 5000))
        events.extend(rows)
        dim.append((iid, project, "cpu", units, deleted_at))
        events_in_order = _with_delete([(ts, a, m) for _, ts, a, m in rows], deleted_at)
        running, stopped = simulate(
            events_in_order, *PRUNED_WINDOW, [(_utc_naive(a), _utc_naive(b)) for a, b in outages]
        )
        hours = -(-(running + stopped) // 3600)
        if hours > 0:
            want[project] = want.get(project, 0) + hours * units
    assert sum(ts >= hi for _, ts, _, _ in events) > 100
    assert any(d == hi for *_, d in dim) and any(d is not None and d > hi for *_, d in dim)

    got = _invoice_hours(spark, events, dim, PRUNED_WINDOW, iter(outages))
    assert got == want


def test_invoice_keeps_null_created_at_events(spark):
    """A trigger event with a null ``created_at`` sorts first and is billed
    from the window's start (``greatest`` skips the null start): the end
    bound keeps it. Running 48 h + Stopped 72 h; the start after the
    window is dropped."""
    events = [
        ("n1", None, "create", ""),
        ("n1", datetime(2000, 1, 3), "stop", ""),
        ("n1", datetime(2000, 1, 10), "start", ""),
    ]
    dim = [("n1", "p1", "cpu", 2, None)]
    assert _invoice_hours(spark, events, dim, PRUNED_WINDOW, ()) == {"p1": 2 * (48 + 72)}
