"""Tests of the benchmark itself: generator determinism, the output
checker, the BENCHMARK.json metric contract, and (slow: one Spark process
per workload) that a traced run covers every layer.

    python3 -m pytest perfbench/tests -q            # from the repository root
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL = dict(
    n_instances=60, n_actions=900, n_projects=5, first_day="2024-01-01", last_day="2024-03-01"
)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_identical_files(tmp_path):
    digests = []
    for attempt in ("a", "b", "c"):
        seed = 7 if attempt != "c" else 8
        fleet = gen.make_fleet(seed, **SMALL)
        gen.write_dump(fleet, str(tmp_path / f"{attempt}.sql.gz"))
        paths = gen.write_history(fleet, str(tmp_path / attempt))
        digests.append(
            [_digest(str(tmp_path / f"{attempt}.sql.gz"))]
            + [_digest(paths[t]) for t in sorted(paths)]
        )
    assert digests[0] == digests[1]
    assert all(x != y for x, y in zip(digests[0], digests[2]))


def test_fleet_shape():
    fleet = gen.make_fleet(3, **SMALL)
    assert len(fleet.a_ts) == SMALL["n_actions"]
    # strictly increasing times per instance: no ordering ties to resolve
    order = sorted(range(len(fleet.a_ts)), key=lambda k: (fleet.a_inst[k], fleet.a_ts[k]))
    pairs = [(fleet.a_inst[k], fleet.a_ts[k]) for k in order]
    assert all(p[0] != q[0] or p[1] < q[1] for p, q in zip(pairs, pairs[1:]))
    # deleted_at lies after every event of its instance
    for i in range(len(fleet.uuid)):
        if fleet.deleted_s[i] >= 0:
            assert fleet.deleted_s[i] > fleet.a_ts[fleet.a_inst == i].max()


def test_dump_carries_fixture_quirks():
    text = gen.dump_text(gen.make_fleet(5, **SMALL))
    for needle in ("o\\'neil\\'s box", "'web, db'", "NULL", ",'',", "'Error'",
                   "CREATE TABLE `key_pairs`", "alias_name", "'delete'"):
        assert needle in text, needle


def _render_csv(path, expected, month, ws, we, corrupt=False):
    names = {t: n for t, (n, _) in oracle.RATE_CARD.items()}
    lines = [",".join(oracle.HEADER)]
    for n, ((project, su_type), (su_hours, rate, cost)) in enumerate(sorted(expected.items())):
        if corrupt and n == 0:
            su_hours += 1
        lines.append(",".join([
            month, oracle_iso(ws), oracle_iso(we), project, project, "", "stack", "", "", "",
            "N/A", str(su_hours), names[su_type], str(float(rate)), str(float(cost)),
            "2024-03-05T00:00:00+00:00",
        ]))
    path.write_text("\n".join(lines) + "\n")


def oracle_iso(t: datetime) -> str:
    return t.isoformat() + "+00:00"


def test_checker_accepts_right_and_rejects_one_corrupted_su_hours_cell(tmp_path):
    fleet = gen.make_fleet(11, **SMALL)
    ws, we = datetime(2024, 2, 1), datetime(2024, 2, 20)
    expected = oracle.Expected(fleet).invoice(ws, we, include_stopped=False)
    assert expected
    good, bad = tmp_path / "good.csv", tmp_path / "bad.csv"
    _render_csv(good, expected, "2024-02", ws, we)
    _render_csv(bad, expected, "2024-02", ws, we, corrupt=True)
    kw = dict(invoice_month="2024-02", window_start=ws, window_end=we)
    assert oracle.check_csv(str(good), expected, **kw) == []
    problems = oracle.check_csv(str(bad), expected, **kw)
    assert len(problems) == 1 and "got" in problems[0]


def test_oracle_replays_the_reference_state_machine():
    """Hand-checked case: 10 h running, 5 h stopped, Error for 2 h, then
    running until deleted; ceil per instance before the sum."""
    day = int(gen._epoch("2024-01-01"))
    h = 3600
    fleet = gen.Fleet(
        uuid=["a"], hostname=["x"], project=["p"],
        vcpus=gen.np.array([2]), memory_mb=gen.np.array([4096]), pci=[None],
        has_extra=gen.np.array([True]), created_s=gen.np.array([day]),
        deleted_s=gen.np.array([day + 20 * h + 1]),
        a_inst=gen.np.array([0, 0, 0, 0, 0]),
        a_ts=gen.np.array([day, day + 10 * h, day + 15 * h, day + 16 * h, day + 17 * h]),
        a_action=gen.np.array([gen.ACTIONS.index(a) for a in
                               ("create", "stop", "start", "reboot", "start")]),
        a_message=gen.np.array([0, 1, 2, 0, 1]),  # the first start fails: Error
    )
    exp = oracle.Expected(fleet)
    window = (datetime(2024, 1, 1), datetime(2024, 2, 1))
    # running 10 h + (20 h + 1 s − 17 h) → ceil(13 h + 1 s) = 14 h × 2 SU
    assert exp.invoice(*window, include_stopped=False) == {
        ("p", "cpu"): (28, Decimal("0.013"), Decimal("0.36"))
    }
    # + 5 h stopped → ceil(18 h + 1 s) = 19 h × 2 SU
    assert exp.invoice(*window, include_stopped=True)[("p", "cpu")][0] == 38
    # an outage over the whole Error-free running stretch [0, 10 h)
    out = ((datetime(2024, 1, 1), datetime(2024, 1, 1, 10)),)
    assert exp.invoice(*window, outages=out, include_stopped=False)[("p", "cpu")][0] == 8


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match_benchmark_json():
    declared = run.declared_metrics(ROOT)
    ops = [
        {"wall": 3.0, "cpu": 4.0, "jit_cpu": 5.0, "measured": False},
        {"wall": 2.0, "cpu": 2.5, "jit_cpu": 1.0, "measured": True},
    ]
    result = {"ops": ops, "rss_peak_mb": 99.0, "setup_s": 1.0}
    e2e = run.end_to_end(run.WORKLOADS["nova_dump_daily"], result)
    assert sorted(e2e) == sorted(declared[False]) and all(v > 0 for v in e2e.values())
    assert sorted(w["name"] for w in _benchmark_json()["workloads"]) == sorted(run.WORKLOADS)


def test_benchmark_json_within_contract_limits():
    bench = _benchmark_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60 and 2 <= len(bench["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"]) <= 0.25
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)) and all(len(n) <= 64 for n in names)


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nova_dump_daily",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


# layers each workload exercises: these per-layer figures must be non-zero
EXERCISED = {
    "nova_dump_daily": (
        "cli.main_s", "mysqldump.convert_s", "mysqldump.load_build_s", "mysqldump.rows",
    ),
    "event_history_year": ("spark.shuffle_read_mb",),
}
EVERY_WORKLOAD = (
    "session.get_spark_s", "rates.rates_df_s", "billing.dim_build_s",
    "billing.invoice_build_s", "billing.csv_rows_build_s", "billing.py4j_calls",
    "csv.write_s", "sessionize.exec_s", "sessionize.interval_rows", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.driver_gap_s", "invoice_s.traced_p50", "invoice_s.p50", "invoice_s.cold",
    "invoice_cpu_s.cold", "jvm.jit_cpu_s",
)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_traced_run_covers_every_layer(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    metrics = out["metrics"]
    assert list(metrics) == list(run.declared_metrics(ROOT)[True])
    for name in EVERY_WORKLOAD + EXERCISED[workload]:
        assert metrics[name]["value"] > 0, name
    # the layer self times plus the remainder account for the invoice
    layer_s = sum(
        metrics[f"{name}_s"]["value"] for name in (
            "cli.main", "session.get_spark_reuse", "rates.rates_df", "mysqldump.load_build",
            "mysqldump.convert", "billing.dim_build", "billing.invoice_build",
            "billing.csv_rows_build", "csv.write", "invoice.remainder",
        )
    )
    assert layer_s == pytest.approx(metrics["invoice_s.traced_p50"]["value"], rel=0.05)
