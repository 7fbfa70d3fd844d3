"""Event-log sessionization: the reference's VM state machine as one
window pass + one aggregation.

The reference (model.py:90-156) walks each instance's ordered events in
Python, mutating five ``State`` accumulators with per-event time clamping
into the query window. That is O(events) driver-side work per instance
per window — and it is re-run from scratch for every outage interval
(billing.py:95-100).

Here the same semantics are three declarative steps, each distributed,
each written once as SQL text (the trigger CASE, the ``lead`` window,
the delete clamp, the clamped overlap) and applied with ``selectExpr`` /
``where``: building the plan costs a few py4j round trips per step
instead of several per ``F.*`` call.

1. ``map_event_states``   — action/message → state (a CASE expression;
   reference trigger table model.py:141-150, Error path model.py:100-107)
   over the Nova ``instance_actions`` columns (instance_uuid, created_at,
   action, message).
2. ``build_state_intervals`` — lead over (id, ts): each trigger event
   opens a state interval ``[ts, next_trigger_ts)``; the last interval is
   open-ended. Window-independent, so intervals are computed ONCE and
   reused for every billing window and every outage interval.
   ``end_at_deletion`` then applies the instance's ``deleted_at``
   (reference model.py:119-125) as an end clamp: the one interval with
   ``start_us ≤ deleted_us < end_us`` ends at ``deleted_us``.
3. ``state_micros_in_window`` — clamped-overlap aggregation: per id,
   Σ |interval ∩ window| − Σ_o |interval ∩ outage_o| per billed state,
   with the outages passed as driver-side ``(start, end)`` tuples.

``plans.billing.instance_runtime`` composes the three steps, joining
``deleted_us`` (and any dimension columns the caller carries through the
per-id aggregation) onto the intervals; it is the one runtime entry point
(the invoice and the registered billing queries go through it).

The clamp equals the reference's formulation — a synthetic Deleted event
at ``deleted_at``, sorted after a real event at the same timestamp
(``with_synthetic_deletes``, kept as the test reference): that event
cuts the interval it falls in and opens an unbilled Deleted interval
that later events close. Later intervals are unchanged either way, and a
``deleted_at`` before the first event cuts nothing billed. The clamp
needs no second read of the instance dimension.

Equivalences (SURVEY.md §2.5, pinned by tests/test_sessionize_golden.py):

- Per-event clamping into [start,end] + exit−enter accumulation
  ≡ Σ interval∩window overlap.
- Duplicate same-state triggers are ignored by the reference
  (model.py:109-117) — a no-op on summed durations, so intervals need
  no consecutive-duplicate collapse.
- Error re-entering Error (model.py:101-107) splits an interval without
  changing its sum.
- Replaying the machine over an outage interval (billing.py:95-100)
  ≡ Σ interval∩outage overlap — the outage bounds are NOT clamped to the
  billing window, reproducing the reference's over-subtraction when an
  outage extends past the window.

Scale notes (100 TB): one shuffle to hash-partition events by id for the
lead() window; the dimension join broadcasts the dimension (one row per
instance), so the intervals keep that partitioning, and the per-id
aggregation reuses it (Catalyst sees hashpartitioning(id) already
satisfies the groupBy distribution, also with carried dimension columns
as extra grouping keys), so the intervals cross a single exchange.
Outage exclusion is literal column arithmetic — zero joins. Skewed ids
(an instance with millions of events) are the one hazard; AQE skew
handling does not apply to window functions, so extremely hot ids use
``build_state_intervals_bucketed``:
two passes with bounded per-(id, month) sorts, boundaries stitched
via tiny per-bucket summaries — identical output, test-pinned.

Known deviations from the reference (documented, SURVEY.md §2.11 #4):
- zero-event instances, deleted_at-without-events included, yield no
  runtime row (the reference crashes on ``None.exit``, model.py:124,127);
- a ``deleted_at`` earlier than the last event sorts into timestamp order
  (the reference appends it after all events, accumulating negative time).
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.sql import sql_string
from openstack_billing_from_db_spark.operators.intervals import (
    TS_MAX_US,
    overlap_micros,
    to_micros,
)

# reference model.py:141-150
DEFAULT_TRIGGER_STATES: Mapping[str, str] = {
    "create": "Running",
    "start": "Running",
    "unshelve": "Running",
    "stop": "Stopped",
    "shelve": "Shelved",
    "delete": "Deleted",
}

BILLED_STATES: tuple[str, ...] = ("Running", "Stopped")  # reference model.py:152-156


def map_event_states(
    events: DataFrame,
    *,
    message_col: str | None = "message",
    trigger_states: Mapping[str, str] = DEFAULT_TRIGGER_STATES,
) -> DataFrame:
    """(instance_uuid, created_at, action[, message]) → (instance_uuid,
    event_ts, state); non-trigger events are dropped.

    Error detection is message-based and takes precedence over the action
    (reference model.py:100-107: any event whose message is "Error" enters
    the Error state regardless of its action).

    ``event_ts`` is a ``TIMESTAMP``: a ``TIMESTAMP_NTZ`` ``created_at``
    (naive parquet) is cast, which keeps its instants in the UTC session.
    """
    whens = [f"WHEN `{message_col}` = 'Error' THEN 'Error'"] if message_col is not None else []
    whens += [
        f"WHEN action = {sql_string(action)} THEN {sql_string(st)}"
        for action, st in trigger_states.items()
    ]
    return events.selectExpr(
        "instance_uuid",
        "CAST(created_at AS TIMESTAMP) AS event_ts",
        f"CASE {' '.join(whens)} END AS state",
    ).where("state IS NOT NULL")


def with_synthetic_deletes(states: DataFrame, instances: DataFrame) -> DataFrame:
    """Append a synthetic Deleted transition at each instance's
    ``deleted_at`` (reference model.py:119-125); ``instances`` is keyed by
    ``uuid``. ``__order`` makes the synthetic event sort after a real
    event at the same timestamp, matching the reference's
    process-events-then-apply-deleted_at order.

    No invoice path calls this: ``end_at_deletion`` gives the same
    runtimes from one read of the dimension. It stays as the reference
    formulation the clamp is tested against."""
    synthetic = instances.where("deleted_at IS NOT NULL").selectExpr(
        "uuid AS instance_uuid", "deleted_at AS event_ts", "'Deleted' AS state", "1 AS __order"
    )
    return states.selectExpr("*", "0 AS __order").unionByName(synthetic)


def _event_order(states: DataFrame) -> str:
    """Window ORDER BY: event time, then ``__order`` (only
    ``with_synthetic_deletes`` adds it) to break timestamp ties."""
    return "event_ts, __order" if "__order" in states.columns else "event_ts"


def build_state_intervals(states: DataFrame) -> DataFrame:
    """Ordered trigger events → state intervals via lead().

    Output: (instance_uuid, state, start_us, end_us); the last interval
    per id is open (end_us = TS_MAX_US) — the reference closes it at each
    query window's end (model.py:127), which the overlap clamp reproduces
    for any window.
    """
    return states.selectExpr(
        "instance_uuid",
        "state",
        "unix_micros(event_ts) AS start_us",
        "coalesce(unix_micros(lead(event_ts) OVER"
        f" (PARTITION BY instance_uuid ORDER BY {_event_order(states)})), {TS_MAX_US}L) AS end_us",
    )


def end_at_deletion(intervals: DataFrame) -> DataFrame:
    """End each id's interval that contains its deletion at the deletion:
    ``end_us := deleted_us`` for the one interval with ``start_us ≤
    deleted_us < end_us`` (intervals of one id are contiguous, so at most
    one qualifies). ``deleted_us`` is a column of ``intervals``; where it
    is null nothing changes."""
    return intervals.withColumn(
        "end_us",
        F.expr("CASE WHEN start_us <= deleted_us AND deleted_us < end_us THEN deleted_us ELSE end_us END"),
    )


def build_state_intervals_bucketed(states: DataFrame) -> DataFrame:
    """Skew-resistant variant of :func:`build_state_intervals` for hot
    instances (an id with tens of millions of events would bottleneck the
    single per-id window sort).

    Two passes:
    1. window over (id, calendar month): intervals within each bucket — the
       per-partition sort is bounded by bucket size, so a hot id spreads
       across buckets instead of landing in one task;
    2. window over per-(id, bucket) summary rows (tiny: one row per
       non-empty bucket) to stitch bucket boundaries — each bucket's open
       tail interval extends to the next non-empty bucket's first event.

    Output is row-for-row identical to the single-pass operator (pinned by
    tests/test_sessionize_bucketed.py on random and hot-key data).
    """
    order = _event_order(states)
    with_bucket = states.selectExpr("*", "date_trunc('month', event_ts) AS __bucket")
    local = with_bucket.selectExpr(
        "instance_uuid",
        "__bucket",
        "state",
        "unix_micros(event_ts) AS start_us",
        # null = bucket tail
        "unix_micros(lead(event_ts) OVER"
        f" (PARTITION BY instance_uuid, __bucket ORDER BY {order})) AS end_us",
    )

    # one summary row per (id, bucket): when does the NEXT bucket start?
    next_start = (
        with_bucket.groupBy("instance_uuid", "__bucket")
        .agg(F.expr("min(unix_micros(event_ts)) AS first_us"))
        .selectExpr(
            "instance_uuid",
            "__bucket",
            "lead(first_us) OVER (PARTITION BY instance_uuid ORDER BY __bucket) AS next_first_us",
        )
    )
    return local.join(next_start, ["instance_uuid", "__bucket"]).selectExpr(
        "instance_uuid",
        "state",
        "start_us",
        f"coalesce(end_us, next_first_us, {TS_MAX_US}L) AS end_us",
    )


def state_micros_in_window(
    intervals: DataFrame,
    window_start: datetime,
    window_end: datetime,
    *,
    outages: Iterable[tuple[datetime, datetime]] = (),
    keys: Sequence[str] = ("instance_uuid",),
) -> DataFrame:
    """Per-id microseconds in each billed state within ``[start, end)``,
    minus each outage interval's overlap (reference billing.py:88-102).

    Outage math is inline arithmetic over interval bounds, one overlap
    term per outage — the outage dimension is a handful of driver-side
    tuples, so it is folded into the projection rather than joined (zero
    extra shuffles; the groupBy reuses the window's hash partitioning on
    id). ``keys`` are the grouping columns: ``instance_uuid`` first, then
    any per-id columns to carry through. Output columns: ``keys``,
    ``running_us``, ``stopped_us``.
    """
    terms = [(window_start, window_end), *outages]
    net = " - ".join(
        overlap_micros("start_us", "end_us", to_micros(lo), to_micros(hi)) for lo, hi in terms
    )
    # grouped by resolved columns: one py4j call each, where a name costs three
    return intervals.groupBy(*[intervals[k] for k in keys]).agg(
        *[
            F.expr(f"sum(CASE WHEN state = '{st}' THEN {net} ELSE 0L END) AS {st.lower()}_us")
            for st in BILLED_STATES
        ]
    )
