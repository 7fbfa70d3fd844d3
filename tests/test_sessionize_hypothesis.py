"""Property-based equivalence: the windowed sessionizer and the
interval-overlap clamp must agree with an INDEPENDENT O(n) Python
simulator on arbitrary event logs — the randomized complement to the 23
reference-ported golden cases (which pin known scenarios only)."""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.operators.intervals import (
    TS_MAX_US,
    overlap_micros,
)
from openstack_billing_from_db_spark.operators.sessionize import (
    build_state_intervals,
)

_BASE = datetime.datetime(2024, 1, 1)
_STATES = ["Running", "Stopped", "Error"]


def _py_intervals(events):
    """Independent reference: per instance, sort by ts (stable), each
    event opens [ts, next_ts); the last interval is open (TS_MAX_US)."""
    out = []
    by_id = {}
    for iid, ts_us, state in events:
        by_id.setdefault(iid, []).append((ts_us, state))
    for iid, evs in by_id.items():
        evs.sort(key=lambda e: e[0])
        for i, (ts_us, state) in enumerate(evs):
            end = evs[i + 1][0] if i + 1 < len(evs) else TS_MAX_US
            out.append((iid, state, ts_us, end))
    return sorted(out)


def _py_overlap(a0, a1, b0, b1):
    return max(0, min(a1, b1) - max(a0, b0))


event_logs = st.lists(
    st.tuples(
        st.integers(0, 4),  # instance id
        st.integers(0, 3600 * 24 * 30),  # offset seconds inside a month
        st.sampled_from(_STATES),
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda e: (e[0], e[1]),  # no same-id same-ts ties (order
    # between tied DISTINCT states is engine-unspecified in both impls)
)


@settings(max_examples=15, deadline=None)
@given(log=event_logs)
def test_random_logs_match_python_reference(spark, log):
    rows = [
        (iid, _BASE + datetime.timedelta(seconds=off), state)
        for iid, off, state in log
    ]
    df = spark.createDataFrame(
        rows, "instance_uuid long, event_ts timestamp, state string"
    )
    got = sorted(
        (r.instance_uuid, r.state, r.start_us, r.end_us)
        for r in build_state_intervals(df).collect()
    )
    want = _py_intervals(
        [
            (iid, int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6), s)
            for iid, ts, s in rows
        ]
    )
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    a0=st.integers(0, 1000),
    alen=st.integers(0, 1000),
    b0=st.integers(0, 1000),
    blen=st.integers(0, 1000),
)
def test_overlap_clamp_matches_python(spark, a0, alen, b0, blen):
    df = spark.createDataFrame([(a0, a0 + alen)], "s long, e long")
    got = df.select(
        F.expr(overlap_micros("s", "e", b0, b0 + blen)).alias("o")
    ).collect()[0].o
    assert got == _py_overlap(a0, a0 + alen, b0, b0 + blen)
