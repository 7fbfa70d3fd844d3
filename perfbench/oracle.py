"""Independent expected invoices and the CSV checker.

The expected invoice is computed from the generator's arrays with numpy,
never from the program's files or code: each instance's trigger events
(plus a synthetic Deleted at ``deleted_at``) replay the reference's state
machine (model.py:90-156) as state intervals, clamped into the window,
minus outage overlaps; runtime is ceil'd to whole hours per instance
BEFORE the per-(project, SU type) sum (reference billing.py:147), then
priced with HALF_UP cents.
"""

from __future__ import annotations

import csv
import json
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from gen import ACTIONS, MESSAGES, Fleet

HEADER = [
    "Invoice Month", "Report Start Time", "Report End Time",
    "Project - Allocation", "Project - Allocation ID", "Manager (PI)",
    "Cluster Name", "Invoice Email", "Invoice Address", "Institution",
    "Institution - Specific Code", "SU Hours (GBhr or SUhr)", "SU Type",
    "Rate", "Cost", "Generated At",
]
# reference model.py:141-150; Error (message) and Deleted end billing
RUNNING, STOPPED, OTHER = 0, 1, 2
_ACTION_STATE = {
    "create": RUNNING, "start": RUNNING, "unshelve": RUNNING,
    "stop": STOPPED, "shelve": OTHER, "delete": OTHER,
}
RATE_CARD = {  # su_type → (SU Type name, $/SU-hr), reference tools/pod.yaml
    "cpu": ("OpenStack CPU", "0.013"),
    "gpu_a100sxm4": ("OpenStack GPUA100SXM4", "2.078"),
    "gpu_a100": ("OpenStack GPUA100", "1.803"),
    "gpu_v100": ("OpenStack GPUV100", "1.214"),
    "gpu_k80": ("OpenStack GPUK80", "0.463"),
    "gpu_a2": ("OpenStack GPUA2", "0.463"),
}
US = 1_000_000
HOUR_US = 3600 * US


def _us(t: datetime) -> int:
    return int(t.replace(tzinfo=timezone.utc).timestamp()) * US


def _su(fleet: Fleet, i: int) -> tuple[str, int]:
    """(su_type, service units): reference model.py:28-46, 197-283."""
    pci = fleet.pci[i] if fleet.has_extra[i] else None
    if pci and pci != "[]":
        req = json.loads(pci)[0]
        return "gpu_" + req["alias_name"].lower().replace("-", ""), int(req["count"])
    return "cpu", int(max(fleet.vcpus[i], fleet.memory_mb[i] / 4096))


class Expected:
    """State intervals built once per fleet; ``invoice`` per window."""

    def __init__(self, fleet: Fleet) -> None:
        self.fleet = fleet
        action_state = np.array([_ACTION_STATE.get(a, -1) for a in ACTIONS])
        state = action_state[fleet.a_action]
        state[fleet.a_message == MESSAGES.index("Error")] = OTHER
        keep = state >= 0
        deleted = np.flatnonzero(fleet.deleted_s >= 0)
        inst = np.concatenate((fleet.a_inst[keep], deleted))
        ts = np.concatenate((fleet.a_ts[keep], fleet.deleted_s[deleted])) * US
        st = np.concatenate((state[keep], np.full(len(deleted), OTHER)))
        synthetic = np.concatenate((np.zeros(keep.sum(), bool), np.ones(len(deleted), bool)))
        order = np.lexsort((synthetic, ts, inst))
        self.inst, self.start, self.state = inst[order], ts[order], st[order]
        same_next = np.append(self.inst[1:] == self.inst[:-1], False)
        self.end = np.where(same_next, np.append(self.start[1:], 0), np.iinfo(np.int64).max)
        self.su = [_su(fleet, i) for i in range(len(fleet.uuid))]

    def invoice(
        self,
        window_start: datetime,
        window_end: datetime,
        *,
        outages: tuple[tuple[datetime, datetime], ...] = (),
        include_stopped: bool,
    ) -> dict[tuple[str, str], tuple[int, Decimal, Decimal]]:
        """(project, su_type) → (su_hours, rate, cost) for positive rows."""
        w0, w1 = _us(window_start), _us(window_end)

        def overlap(lo: int, hi: int) -> np.ndarray:
            return np.maximum(0, np.minimum(self.end, hi) - np.maximum(self.start, lo))

        net = overlap(w0, w1)
        for o0, o1 in outages:
            net = net - overlap(_us(o0), _us(o1))
        billed_state = (self.state == RUNNING) | (include_stopped & (self.state == STOPPED))
        n = len(self.fleet.uuid)
        billed = np.zeros(n, dtype=np.int64)
        np.add.at(billed, self.inst, np.where(billed_state, net, 0))
        hours = (billed + HOUR_US - 1) // HOUR_US

        # liveness (reference model.py:240-244): deleted after start, or live
        deleted_s = self.fleet.deleted_s
        live = (deleted_s < 0) | (deleted_s * US > w0)
        totals: dict[tuple[str, str], int] = {}
        for i in np.flatnonzero(live & (hours > 0)).tolist():
            su_type, units = self.su[i]
            key = (self.fleet.project[i], su_type)
            totals[key] = totals.get(key, 0) + int(hours[i]) * units
        out = {}
        for key, su_hours in totals.items():
            if su_hours > 0:
                rate = Decimal(RATE_CARD[key[1]][1])
                cost = (rate * su_hours).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
                out[key] = (su_hours, rate, cost)
        return out


def check_csv(
    path: str,
    expected: dict[tuple[str, str], tuple[int, Decimal, Decimal]],
    *,
    invoice_month: str,
    window_start: datetime,
    window_end: datetime,
) -> list[str]:
    """Problems found in the invoice CSV at ``path`` (empty = correct).
    ``Generated At`` is a wall-clock stamp and is not compared."""
    with open(path, newline="") as f:
        rows = list(csv.reader(f, delimiter=",", quotechar="|"))
    if not rows or rows[0] != HEADER:
        return [f"header {rows[:1]!r}"]
    su_name = {name: su_type for su_type, (name, _) in RATE_CARD.items()}
    const = [
        invoice_month,
        window_start.replace(tzinfo=timezone.utc).isoformat(),
        window_end.replace(tzinfo=timezone.utc).isoformat(),
    ]
    problems, seen = [], set()
    for row in rows[1:]:
        if len(row) != len(HEADER):
            problems.append(f"row width {len(row)}: {row!r}")
            continue
        project, su_type = row[3], su_name.get(row[12])
        key = (project, su_type)
        if row[:3] != const or row[4] != project or row[6] != "stack":
            problems.append(f"constant columns {row!r}")
        if key in seen or key not in expected:
            problems.append(f"unexpected row {row!r}")
            continue
        seen.add(key)
        su_hours, rate, cost = expected[key]
        try:
            got = (int(row[11]), float(row[13]), float(row[14]))
        except ValueError:
            problems.append(f"unparsable numbers {row!r}")
            continue
        if got != (su_hours, float(rate), float(cost)):
            problems.append(f"{key}: got {got}, want {(su_hours, rate, cost)}")
    missing = set(expected) - seen
    if missing:
        problems.append(f"{len(missing)} missing rows, e.g. {sorted(missing)[:2]}")
    return problems
