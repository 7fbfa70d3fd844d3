"""Invoice-run benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload nova_dump_daily --seed 1 --seconds 6 --trace 0

Run from the repository root. The runner generates the seeded inputs (not
timed), starts ONE fresh measured process (``workload.py``) with a pinned
session shape, checks every invoice CSV it wrote against an independent
oracle (not timed), and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans, py4j calls, Spark job/stage/task and event-log figures).
Closed loop, one client: one invoice at a time, like the reference's cron.
Everything it writes goes under ``.perfbench/`` in the working directory
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime

import gen
import oracle

PKG = "openstack_billing_from_db_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
CHILD_TIMEOUT_S = 150
DRIVER_MEMORY = "2g"

_MONTHS = [f"2024-{m:02d}-01" for m in range(1, 13)] + ["2025-01-01"]
_OUTAGES = [  # inside their months, like a maintenance calendar
    ("2024-02-10T06:00:00", "2024-02-11T18:00:00"),
    ("2024-06-03T00:00:00", "2024-06-03T12:30:00"),
    ("2024-10-20T22:00:00", "2024-10-22T02:00:00"),
]

WORKLOADS = {
    # the reference's daily cron: a Nova dump re-invoiced month to date,
    # day after day, through cli.main (dump scan + fixed per-run cost)
    "nova_dump_daily": {
        "kind": "dump",
        "fleet": dict(
            n_instances=600, n_actions=6_000, n_projects=30,
            first_day="2023-12-01", last_day="2024-04-01",
        ),
        "windows": [("2024-03-01", f"2024-03-{d:02d}") for d in range(2, 32)],
        "outages": (),
        "include_stopped": False,
    },
    # a year of parquet history, invoiced month by month with outages
    # through plans.billing (window sort and shuffles, no dump)
    "event_history_year": {
        "kind": "history",
        "fleet": dict(
            n_instances=15_000, n_actions=300_000, n_projects=100,
            first_day="2023-07-01", last_day="2025-01-01",
        ),
        "windows": list(zip(_MONTHS, _MONTHS[1:])),
        "outages": _OUTAGES,
        "include_stopped": True,
    },
}


def declared_metrics(root: str) -> dict[bool, dict[str, str]]:
    """trace flag → {metric name: unit}, as BENCHMARK.json declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        trace: {m["name"]: m["unit"] for m in bench[key]}
        for trace, key in ((False, "end_to_end"), (True, "per_layer"))
    }


def windows_of(spec: dict) -> list[dict]:
    out = []
    for start, end in spec["windows"]:
        ws, we = datetime.fromisoformat(start), datetime.fromisoformat(end)
        # only the outages overlapping the window, as the reference passes them
        # (billing.py:121-124): the subtraction is not clamped to the window
        outages = [
            (a, b) for a, b in spec["outages"]
            if datetime.fromisoformat(b) > ws and datetime.fromisoformat(a) < we
        ]
        out.append({"start": ws.isoformat(), "end": we.isoformat(), "outages": outages})
    return out


def _child_env(run_dir: str) -> dict[str, str]:
    """Pinned session shape; every temporary path inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "TMPDIR": tmp,
            # compiler threads that live as long as the JVM keep the JIT's
            # CPU time countable (workload.session_cpu_s)
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        }
    )
    for k in ("SPARK_GRAFT_STOCK_PYTHON_DAEMON", "SPARK_GRAFT_STOCK_GC"):
        env.pop(k, None)
    return env


def _run_child(cfg_path: str, out_path: str, env: dict) -> dict:
    """Run workload.py in its own process group and wait for the whole
    group (the JVM and Python workers too) to end."""
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), cfg_path, out_path, repr(time.time())]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc, grace_s=0 if proc.returncode is None else 30)
    if code != 0:
        raise RuntimeError(f"measured process failed (exit {code})")
    with open(out_path) as f:
        return json.load(f)


def _stop_group(proc: subprocess.Popen, grace_s: float) -> None:
    """Wait for ``proc``'s process group to exit; SIGKILL it after
    ``grace_s``, then wait at most 10 s more (what remains then can only be
    zombies that another parent must reap)."""
    deadline, killed = time.monotonic() + grace_s, False
    while True:
        proc.poll()  # reap the child itself, or it lingers in the group
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() >= deadline:
            if killed:
                return
            os.killpg(proc.pid, signal.SIGKILL)
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.1)


def check_ops(spec: dict, fleet: gen.Fleet, windows: list[dict], ops: list[dict]) -> int:
    """Number of operations that failed or wrote a wrong invoice."""
    expected = oracle.Expected(fleet)
    cache: dict[int, dict] = {}
    failed = 0
    for op in ops:
        i = op["k"] % len(windows)
        w = windows[i]
        ws, we = datetime.fromisoformat(w["start"]), datetime.fromisoformat(w["end"])
        if i not in cache:
            outages = tuple(
                (datetime.fromisoformat(a), datetime.fromisoformat(b)) for a, b in w["outages"]
            )
            cache[i] = expected.invoice(
                ws, we, outages=outages, include_stopped=spec["include_stopped"]
            )
        problems = (
            ["operation raised"]
            if op["error"]
            else oracle.check_csv(
                op["csv"], cache[i], invoice_month=ws.strftime("%Y-%m"),
                window_start=ws, window_end=we,
            )
        )
        if problems:
            failed += 1
            print(f"invoice {op['k']} wrong: {problems[:3]}", file=sys.stderr)
    return failed


def end_to_end(spec: dict, result: dict) -> dict[str, float]:
    """Warm invoice cost in CPU seconds of the whole session (driver, JVM,
    Python workers), the JIT compiler's threads left out: on a shared host
    the wall time of the same invoice swings with the CPU time the host
    steals, the CPU time half as much, and the JIT, still compiling at the
    rate of a core or more, falls with every invoice."""
    cpu = statistics.median(op["cpu"] for op in result["ops"] if op["measured"])
    return {
        "setup_s": result["setup_s"],
        "invoice_cpu_s.p50": cpu,
        "actions_per_cpu_s": spec["fleet"]["n_actions"] / cpu,
        "driver_rss_peak_mb": result["rss_peak_mb"],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"{PKG}/ not found under {root}: run from the repository root", file=sys.stderr)
        return 2
    spec = WORKLOADS[args.workload]
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        fleet = gen.make_fleet(args.seed, **spec["fleet"])
        if spec["kind"] == "dump":
            inputs = {"dump": os.path.join(run_dir, "nova.sql.gz")}
            gen.write_dump(fleet, inputs["dump"])
        else:
            inputs = gen.write_history(fleet, os.path.join(run_dir, "history"))
        windows = windows_of(spec)
        cfg = {
            "root": root,
            "run_dir": run_dir,
            "event_dir": os.path.join(run_dir, "events"),
            "kind": spec["kind"],
            "inputs": inputs,
            "windows": windows,
            "seconds": args.seconds,
            "trace": bool(args.trace),
        }
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        env = _child_env(run_dir)

        result = _run_child(cfg_path, os.path.join(run_dir, "result.json"), env)

        ops = result["ops"]
        failed = check_ops(spec, fleet, windows, ops)
        values = result["layers"] if args.trace else end_to_end(spec, result)
        declared = declared_metrics(root)[bool(args.trace)]
        print(
            f"{args.workload} seed {args.seed}: {len(ops)} invoices, walls "
            + " ".join(f"{op['wall']:.2f}" for op in ops)
            + ", cpu " + " ".join(f"{op['cpu']:.2f}" for op in ops)
            + ", jit " + " ".join(f"{op['jit_cpu']:.2f}" for op in ops)
            + f", setup {result['setup_s']:.2f}",
            file=sys.stderr,
        )
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": {
                        name: {"value": values[name], "unit": unit}
                        for name, unit in declared.items()
                    },
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
