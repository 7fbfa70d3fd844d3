"""Traced mode: spans around the package's public functions, py4j call
counts, and Spark job/stage/task metrics per operation.

Spans are recorded from benchmark code only: ``instrument`` replaces the
named module attributes with wrappers. The package imports these names at
call time (``cli.main`` imports its collaborators inside the function, and
``nova_tables_from_dump`` looks ``mysqldump_to_parquet`` up as a module
global), so the wrappers see every call without any change to the package.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from dataclasses import dataclass, field

PKG = "openstack_billing_from_db_spark"

# (module, attribute, span name); every span name is a per-layer self time
WRAPPED = (
    ("cli", "main", "cli.main"),
    # inside an operation get_spark only returns the live session
    ("session", "get_spark", "session.get_spark_reuse"),
    ("sources.rates", "rates_df", "rates.rates_df"),
    ("sources.mysqldump", "nova_tables_from_dump", "mysqldump.load_build"),
    ("sources.mysqldump", "mysqldump_to_parquet", "mysqldump.convert"),
    ("plans.billing", "nova_instance_dim", "billing.dim_build"),
    ("plans.billing", "nova_invoice", "billing.invoice_build"),
    ("plans.billing", "invoice_csv_rows", "billing.csv_rows_build"),
    ("sinks.csv", "write_single_csv", "csv.write"),
)
SPAN_NAMES = tuple(name for _, _, name in WRAPPED)
ROOT = "invoice"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int
    py4j_calls: int = 0


@dataclass
class Tracer:
    """Spans kept in memory; ``active`` turns recording on per operation."""

    spans: list[Span] = field(default_factory=list)
    active: bool = False
    run_id: int = -1
    py4j_calls: int = 0
    last_result: dict[str, object] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(idx)
        calls0 = self.py4j_calls
        try:
            out = fn(*args, **kwargs)
            self.last_result[name] = out
            return out
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.py4j_calls - calls0
            self._stack.pop()

    def instrument(self) -> None:
        """Wrap every WRAPPED function and count py4j round trips."""
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)

            @functools.wraps(fn)
            def wrapper(*args, _fn=fn, _name=span_name, **kwargs):
                return self.span(_name, _fn, *args, **kwargs)

            setattr(mod, attr, wrapper)

        from py4j.clientserver import JavaClient

        send = JavaClient.send_command

        def counting_send(client, *args, **kwargs):
            self.py4j_calls += 1
            return send(client, *args, **kwargs)

        JavaClient.send_command = counting_send

    def self_times(self, run_id: int) -> dict[str, float]:
        """Span name → self time (duration minus the time its children
        cover) summed over the run's spans; children never overlap, since
        the benchmark is one thread."""
        ids = [i for i, s in enumerate(self.spans) if s.run_id == run_id]
        child_time = {i: 0.0 for i in ids}
        for i in ids:
            p = self.spans[i].parent
            if p is not None:
                child_time[p] += self.spans[i].end - self.spans[i].start
        out: dict[str, float] = {}
        for i in ids:
            s = self.spans[i]
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def py4j_by_span(self, run_id: int) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            if s.run_id == run_id:
                out[s.name] = out.get(s.name, 0) + s.py4j_calls
        return out


def group_name(run_id: int) -> str:
    return f"perfbench-op-{run_id}"


def status_counts(sc, run_id: int) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one operation's job group,
    read from the SparkContext's status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group_name(run_id))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks = failed = stages = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue  # skipped stage: its shuffle output was reused
        stages += 1
        tasks += st.numTasks
        failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def event_log_metrics(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task run/CPU/GC/scheduler-delay seconds, shuffle and
    spill MB, and the union of job intervals (for the driver gap), parsed
    from the Spark event log the way scripts/profile_warm.py reads it."""
    files = [
        os.path.join(event_dir, f) for f in sorted(os.listdir(event_dir)) if not f.startswith(".")
    ]
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_interval: dict[int, list[float]] = {}  # [submitted, completed] ms
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(
            group,
            {"task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0, "scheduler_delay_s": 0.0,
             "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        )

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                        t = ev["Submission Time"]
                        job_interval[ev["Job ID"]] = [t, t]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_interval:
                    job_interval[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    m = acc(stage_group[ev["Stage ID"]])
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    run_ms = tm.get("Executor Run Time", 0)
                    m["task_run_s"] += run_ms / 1e3
                    m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    m["scheduler_delay_s"] += max(
                        0,
                        duration
                        - run_ms
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0),
                    ) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["shuffle_read_mb"] += (
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    ) / 1e6
                    m["shuffle_write_mb"] += (
                        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    m["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    for group in set(job_group.values()):
        ivs = [job_interval[j] for j, g in job_group.items() if g == group]
        acc(group)["job_busy_s"] = _union_seconds(ivs)
    return out


def _union_seconds(intervals: list[list[float]]) -> float:
    """Length of the union of [submitted, completed] millisecond intervals
    (AQE runs some jobs of one action concurrently)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3
