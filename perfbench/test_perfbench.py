"""The benchmark's own tests: the tiny-input smoke mode of every workload
prints the result contract, and the generator is a function of its seed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _result(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_prints_contract(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    res = _result(workload, trace=0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_traced_run_reports_every_layer():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    res = _result("nightly_elt", trace=1)
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert res["metrics"]["engine.intervals.record_s"]["value"] > 0
    assert res["metrics"]["engine.audits.checked"]["value"] == 3


def test_generator_is_a_function_of_the_seed(tmp_path):
    a = gen.warehouse_inputs(tmp_path / "a", 7, 60, 5)
    b = gen.warehouse_inputs(tmp_path / "b", 7, 60, 5)
    c = gen.warehouse_inputs(tmp_path / "c", 8, 60, 5)
    assert a.expected == b.expected and a.input_bytes == b.input_bytes
    assert a.expected != c.expected
    files = sorted(p.relative_to(tmp_path / "a") for p in (tmp_path / "a").rglob("*") if p.is_file())
    assert files == sorted(p.relative_to(tmp_path / "b") for p in (tmp_path / "b").rglob("*") if p.is_file())
    assert gen.operator_tables(tmp_path / "t1", 7, 0.001) == gen.operator_tables(tmp_path / "t2", 7, 0.001)


def test_tail_takes_the_highest_percentile_with_ten_beyond():
    assert run.tail(list(range(19)))[0] == 50
    assert run.tail(list(range(40)))[0] == 75
    assert run.tail(list(range(100)))[0] == 90
    assert run.tail([float(i) for i in range(1001)]) == (99, 990.0)


def test_run_refuses_without_the_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nightly_elt", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
