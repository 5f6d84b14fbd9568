"""Self-tests of the benchmark.

    python -m pytest perfbench/tests -q

A smoke run of every workload on the smallest fixture (sf0.001), untraced
and traced; checks that every metric is reported with its
unit, that a deliberately corrupted result counts as a failure, and that the
command fails without printing a result where the engine is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, tail  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from perfbench.workloads.dashboard import Dashboard  # noqa: E402
from perfbench.workloads.lakehouse import LakehouseJob  # noqa: E402

SMOKE_SF = "sf0.001"


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_what_the_benchmark_reports():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in spec["end_to_end"])


def test_requests_follow_the_seed(tmp_path):
    def ctx(seed):
        data = harness.fixture_dir(SMOKE_SF)
        return harness.Context(seed, 1, str(tmp_path), data, data, Tracer(False))

    a, b, c = (Dashboard(ctx(s)).streams for s in (7, 7, 8))
    assert a == b and a != c
    a, b, c = (LakehouseJob(ctx(s)).specs for s in (7, 7, 8))
    assert a == b and a != c


def test_tail_is_p90_below_a_hundred_samples():
    assert tail([5.0]) == (5.0, 90.0)
    assert tail([float(i) for i in range(11)])[0] == pytest.approx(9.0)
    value, pct = tail([float(i) for i in range(200)])
    assert (value, pct) == (189.0, 95.0)


def _run(workload, tmp_path, trace=False, mutate=None) -> dict:
    return harness.run(workload, seed=3, seconds=0.5, trace=trace,
                       work_dir=str(tmp_path), sf=SMOKE_SF, mutate=mutate)


def _assert_metrics(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_reports_every_metric(workload, tmp_path):
    plain = _run(workload, tmp_path / "plain")
    _assert_metrics(plain, END_TO_END)
    assert plain["correct"] and plain["failed"] == 0
    assert all(plain["metrics"][m]["value"] > 0 for m in END_TO_END)

    traced = _run(workload, tmp_path / "traced", trace=True)
    _assert_metrics(traced, PER_LAYER)
    assert traced["correct"] and traced["failed"] == 0
    assert traced["metrics"]["trace.spans"]["value"] > 0


def _corrupt_dashboard(ops):
    sql, rows = ops[0].result
    ops[0].result = (sql, rows[1:] + [("corrupted",) * len(rows[0])])


def _corrupt_snapshot_read(ops):
    read = next(op for op in ops if op.kind == "scan")
    table, i, value = read.result
    read.result = (table, i, value + 1)


def _corrupt_pairs(ops):
    pairs = next(op for op in ops if op.kind == "curation").result["minhash"]
    pairs.append((-1, -2))


def _corrupt_sink(ops):
    out = next(op for op in ops if op.kind == "etl").result
    shutil.rmtree(os.path.join(out, "dim_books"))


@pytest.mark.parametrize("workload, corrupt", [
    ("dashboard", _corrupt_dashboard),
    ("batch", _corrupt_snapshot_read),
    ("batch", _corrupt_pairs),
    ("batch", _corrupt_sink),
])
def test_corrupted_result_counts_as_failure(workload, corrupt, tmp_path):
    result = _run(workload, tmp_path, mutate=corrupt)
    assert result["failed"] >= 1
    assert not result["correct"]
    assert result["metrics"]["ok_frac"]["value"] < 1.0


def test_command_prints_one_json_line_last():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "2",
         "--seconds", "0.5", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    _assert_metrics(result, END_TO_END)


def test_command_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
