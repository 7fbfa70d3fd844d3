"""Interval-overlap arithmetic in integer microseconds, as SQL fragments.

All session math runs on ``unix_micros`` BIGINTs — exact, portable
(DuckDB ``epoch_us`` matches bit-for-bit), and immune to float-summation
order. Seconds/hours are derived at the edges only. The helpers return
Spark SQL text over column names: operators apply them with
``selectExpr`` / ``where``, a Column caller wraps them in ``F.expr``.
"""

from __future__ import annotations

from datetime import datetime, timezone

MICROS_PER_SECOND = 1_000_000
MICROS_PER_HOUR = 3_600_000_000
# stand-in for an open interval's end ("still in this state")
TS_MAX_US = (1 << 62)


def to_micros(t: datetime) -> int:
    """Naive datetimes are UTC (reference treats all times as UTC and
    stamps tzinfo only on output, billing.py:133-134).

    Derived from the calendar fields against the epoch (never
    ``int(t.timestamp())``, which truncates toward zero and is off by one
    second for pre-epoch fractional times)."""
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    delta = t - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (delta.days * 86_400 + delta.seconds) * MICROS_PER_SECOND + delta.microseconds


def timestamp_sql(t: datetime) -> str:
    """``t`` as a TIMESTAMP literal, naive meaning UTC as in ``to_micros``
    (``F.lit(naive datetime)`` would read it in the driver's local time
    zone)."""
    return f"timestamp_micros({to_micros(t)}L)"


def overlap_micros(
    start_us: str,
    end_us: str,
    lo_us: str | int,
    hi_us: str | int,
) -> str:
    """max(0, min(end, hi) - max(start, lo)) — the length of
    ``[start,end) ∩ [lo,hi)``.

    Equivalent to the reference's per-event ``_clamp_time`` into the
    window (model.py:78-88) summed per state: clamping every event time
    into ``[lo,hi]`` and accumulating exit−enter is exactly the sum of
    interval∩window overlaps (SURVEY.md §2.5 equivalence note).
    """
    return f"greatest(0L, least({end_us}, {hi_us}) - greatest({start_us}, {lo_us}))"


def ceil_hours(micros: str) -> str:
    """ceil(seconds/3600) as ``floor((us + 3599999999) / 3600000000)``
    (reference billing.py:147 ``math.ceil(runtime_seconds / 3600)``).

    floor of a double division is safe here: runtime micros are bounded
    by the billing window (≪ 2^53), and the fractional remainder
    (≤ (H-1)/H) cannot round up across an integer boundary.
    """
    return f"floor(({micros} + {MICROS_PER_HOUR - 1}L) / {MICROS_PER_HOUR}L)"
