"""Randomized differential test: the Spark sessionization vs an
independent driver-side simulator of the reference semantics
(model.py:90-156 behavior re-derived from SURVEY.md §2.5 — clamped
per-event state accumulation), over hundreds of random event sequences
evaluated in a single DataFrame pass."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from openstack_billing_from_db_spark.operators.sessionize import (
    DEFAULT_TRIGGER_STATES,
)
from openstack_billing_from_db_spark.plans.billing import instance_runtime

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
