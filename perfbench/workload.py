"""One measured process: set up a session, then invoice in a closed loop.

Started by ``run.py`` with a JSON config (inputs, windows, run length);
writes a JSON result (set-up time, one record per operation with its wall
and CPU times, peak RSS and, when traced, per-layer figures). It drives
the package only through its public functions: ``cli.main`` for the dump
workload, ``plans.billing`` + ``sinks.csv`` for the history workload.

Usage: python3 perfbench/workload.py CONFIG.json RESULT.json T0
(T0 is the ``time.time()`` at which the parent started this process.)
"""

from __future__ import annotations

import json
import os
import platform
import resource
import statistics
import sys
import time
import traceback
import warnings
from datetime import datetime, timezone

import spans

# warm invoices between the cold one and the measured window: the first
# two still cost 15-40% more CPU (interpreted code), so without them the
# median would depend on how many invoices fit in the window
WARMUP_OPS = 2
MIN_MEASURED = 3  # invoices in the window even if --seconds has passed


_dt = datetime.fromisoformat
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields from field 3 on) of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # exited meanwhile
        return None
    head, _, rest = raw.rpartition(")")
    return head.partition("(")[2], rest.split()


def _cpu_ticks(fields: list[str]) -> int:
    return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


def session_cpu_s() -> tuple[float, float]:
    """(all, JIT) CPU seconds spent so far by this process's session: this
    process, its JVM and the JVM's Python workers, the exited ones through
    their parents' child times. JIT is the JVM's compiler threads (kept
    alive by -XX:-UseDynamicNumberOfCompilerThreads, or their time would
    vanish with them). Time the host steals is in neither, so both stay
    put where wall time swings."""
    sid, ticks, jit = os.getsid(0), 0, 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or (stat := _stat_fields(f"/proc/{pid}/stat")) is None:
            continue
        comm, fields = stat
        if int(fields[3]) != sid:  # fields[3] is the session id
            continue
        ticks += _cpu_ticks(fields)
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                thread = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if thread is not None and "CompilerThre" in thread[0]:
                    jit += _cpu_ticks(thread[1])
    return ticks * _TICK_S, jit * _TICK_S


def _session_conf(cfg: dict) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(cfg["run_dir"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if cfg["trace"]:
        os.makedirs(cfg["event_dir"], exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": cfg["event_dir"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Workload:
    def __init__(self, spark, cfg: dict, tracer) -> None:
        self.spark, self.cfg, self.tracer = spark, cfg, tracer

    def window(self, k: int) -> tuple[datetime, datetime, list[tuple[datetime, datetime]]]:
        """Operation k's (start, end, outages); operations cycle the windows."""
        w = self.cfg["windows"][k % len(self.cfg["windows"])]
        return _dt(w["start"]), _dt(w["end"]), [(_dt(a), _dt(b)) for a, b in w["outages"]]

    def run_op(self, k: int, out_csv: str) -> None:
        ws, we, outages = self.window(k)
        if self.cfg["kind"] == "dump":
            self._dump_op(ws, we, out_csv)
        else:
            self._history_op(ws, we, outages, out_csv)

    def _dump_op(self, ws: datetime, we: datetime, out_csv: str) -> None:
        from openstack_billing_from_db_spark import cli

        cli.main(
            [
                "--sql-dump-file", self.cfg["inputs"]["dump"],
                "--convert-sql-dump-file-to-sqlite",
                "--start", ws.isoformat(),
                "--end", we.isoformat(),
                "--output", out_csv,
            ]
        )

    def history_tables(self):
        read = self.spark.read.parquet
        p = self.cfg["inputs"]
        return read(p["instances"]), read(p["instance_extra"]), read(p["instance_actions"])

    def _history_op(self, ws, we, outages, out_csv: str) -> None:
        from openstack_billing_from_db_spark.plans import billing
        from openstack_billing_from_db_spark.sinks import csv as csv_sink
        from openstack_billing_from_db_spark.sources import rates as rates_mod

        instances, extra, actions = self.history_tables()
        rates = rates_mod.rates_df(self.spark)
        dim = billing.nova_instance_dim(instances, extra, ws)
        invoice = billing.nova_invoice(
            actions, dim, rates, ws, we, outages=outages, include_stopped_runtime=True
        )
        rows = billing.invoice_csv_rows(
            invoice,
            rates,
            invoice_month=ws.strftime("%Y-%m"),
            window_start=ws,
            window_end=we,
            generated_at=datetime.now(timezone.utc).isoformat(timespec="seconds"),
        )
        csv_sink.write_single_csv(rows, out_csv)

    def sessionize_probe(self) -> dict[str, float]:
        """Materialize ``instance_runtime`` alone for the first window, and
        count the state intervals it builds."""
        from openstack_billing_from_db_spark.operators import sessionize
        from openstack_billing_from_db_spark.plans import billing

        ws, we, outages = self.window(0)
        if self.cfg["kind"] == "dump":
            instances, extra, actions = self.tracer.last_result["mysqldump.load_build"]
        else:
            instances, extra, actions = self.history_tables()
        actions = actions.select("instance_uuid", "created_at", "action", "message")
        dim = billing.nova_instance_dim(instances, extra, ws)
        t = time.perf_counter()
        billing.instance_runtime(actions, ws, we, instances=dim, outages=outages).write.format(
            "noop"
        ).mode("overwrite").save()
        exec_s = time.perf_counter() - t
        states = sessionize.with_synthetic_deletes(sessionize.map_event_states(actions), dim)
        rows = sessionize.build_state_intervals(states).count()
        return {"sessionize.exec_s": exec_s, "sessionize.interval_rows": rows}


def main(argv: list[str]) -> int:
    cfg_path, out_path, t0 = argv[0], argv[1], float(argv[2])
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    warnings.filterwarnings("ignore", message="get_spark reused", category=RuntimeWarning)

    tracer = None
    if cfg["trace"]:
        tracer = spans.Tracer()
        tracer.instrument()

    from openstack_billing_from_db_spark import session

    t = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", extra_conf=_session_conf(cfg))
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    setup_s = time.time() - t0
    sc = spark.sparkContext
    result: dict = {"setup_s": setup_s, "get_spark_s": get_spark_s}
    versions = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": sc.master,
    }
    print(f"perfbench session: {json.dumps(versions)}", file=sys.stderr, flush=True)
    result["versions"] = versions

    wl = Workload(spark, cfg, tracer)
    ops: list[dict] = []
    loop_start = None
    k = 0
    while True:
        traced = tracer is not None and k % 2 == 0
        out_csv = os.path.join(cfg["run_dir"], f"invoice_{k}.csv")
        if tracer is not None:
            sc.setJobGroup(spans.group_name(k), f"operation {k}")
            tracer.active, tracer.run_id = traced, k
        cpu0, t = session_cpu_s(), time.perf_counter()
        error = None
        try:
            wl.run_op(k, out_csv)
        except Exception:  # a failed operation is counted, not fatal
            error = traceback.format_exc()
            print(error, file=sys.stderr, flush=True)
        wall = time.perf_counter() - t
        cpu1 = session_cpu_s()
        jit = cpu1[1] - cpu0[1]
        if tracer is not None:
            tracer.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
        measured = loop_start is not None
        ops.append(
            {"k": k, "wall": wall, "cpu": cpu1[0] - cpu0[0] - jit, "jit_cpu": jit,
             "csv": out_csv, "traced": traced, "measured": measured, "error": error}
        )
        if k == WARMUP_OPS:
            loop_start = time.perf_counter()
        elif measured and time.perf_counter() - loop_start >= cfg["seconds"] \
                and k - WARMUP_OPS >= MIN_MEASURED:
            break
        k += 1
    result["ops"] = ops
    result["rss_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    if tracer is not None:
        warm = [op for op in ops if op["measured"] and not op["error"]]
        traced_ops = [op for op in warm if op["traced"]]
        layers = _layer_metrics(wl, tracer, traced_ops)
        layers["session.get_spark_s"] = get_spark_s
        layers["invoice_s.cold"] = ops[0]["wall"]
        layers["invoice_cpu_s.cold"] = ops[0]["cpu"] + ops[0]["jit_cpu"]
        layers["invoice_s.p50"] = _median([op["wall"] for op in warm if not op["traced"]])
        layers["invoice_s.traced_p50"] = _median([op["wall"] for op in traced_ops])
        layers["trace.overhead_s"] = layers["invoice_s.traced_p50"] - layers["invoice_s.p50"]
        layers["jvm.jit_cpu_s"] = _median([op["jit_cpu"] for op in warm])
    spark.stop()  # flushes the event log
    if tracer is not None:
        layers.update(_event_log_layers(cfg["event_dir"], traced_ops))
        result["layers"] = layers
    _write(out_path, result)
    return 0


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _medians(per_op: list[dict[str, float]]) -> dict[str, float]:
    return {key: _median([m[key] for m in per_op]) for key in (per_op[0] if per_op else {})}


def _layer_metrics(wl: Workload, tracer: spans.Tracer, traced_ops: list[dict]) -> dict:
    """Per-layer figures: medians over the traced warm operations."""
    sc = wl.spark.sparkContext
    per_op: list[dict[str, float]] = []
    for op in traced_ops:
        selfs = tracer.self_times(op["k"])
        calls = tracer.py4j_by_span(op["k"])
        m = {f"{name}_s": selfs.get(name, 0.0) for name in spans.SPAN_NAMES}
        # the operation's wall time not covered by any layer span
        m[f"{spans.ROOT}.remainder_s"] = op["wall"] - sum(selfs.values())
        m["billing.py4j_calls"] = sum(
            calls.get(n, 0)
            for n in ("billing.dim_build", "billing.invoice_build", "billing.csv_rows_build")
        )
        m.update({f"spark.{key}": v for key, v in spans.status_counts(sc, op["k"]).items()})
        per_op.append(m)
    layers = _medians(per_op)
    rows = 0
    if wl.cfg["kind"] == "dump":
        import pyarrow.parquet as pq

        for path in tracer.last_result["mysqldump.convert"].values():
            rows += pq.read_metadata(path).num_rows
    convert_s = layers.get("mysqldump.convert_s", 0.0)
    layers["mysqldump.rows"] = rows
    layers["mysqldump.rows_per_s"] = rows / convert_s if convert_s else 0.0
    layers.update(wl.sessionize_probe())
    return layers


def _event_log_layers(event_dir: str, traced_ops: list[dict]) -> dict[str, float]:
    """Task CPU/GC/shuffle/spill and the driver gap, from the event log."""
    by_group = spans.event_log_metrics(event_dir)
    keys = ("task_run_s", "task_cpu_s", "gc_s", "scheduler_delay_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
    per_op = []
    for op in traced_ops:
        m = by_group.get(spans.group_name(op["k"]), {})
        row = {f"spark.{key}": m.get(key, 0.0) for key in keys}
        row["spark.driver_gap_s"] = op["wall"] - m.get("job_busy_s", 0.0)
        per_op.append(row)
    return _medians(per_op)


def _write(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
