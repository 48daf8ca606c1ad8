"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute each on 4 cores); the
others are instant.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import backlog_drain, batch_queries, wf_roundtrip  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, REQUIRED  # noqa: E402


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int, seconds: float = 1) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_metric_catalogue_matches_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(REQUIRED)
    for names in REQUIRED.values():
        assert set(names) <= set(PER_LAYER)


def test_inputs_are_deterministic_per_seed():
    assert wf_roundtrip.plan(3) == wf_roundtrip.plan(3)
    assert wf_roundtrip.plan(3) != wf_roundtrip.plan(4)
    assert backlog_drain.plan_inputs(3, 2, 50) == backlog_drain.plan_inputs(3, 2, 50)
    assert backlog_drain.plan_inputs(3, 2, 50) != backlog_drain.plan_inputs(4, 2, 50)
    assert batch_queries.query_order(3, 4) == batch_queries.query_order(3, 4)
    assert batch_queries.query_order(3, 4) != batch_queries.query_order(4, 4)


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    res = _run(tmp_path, "wf_roundtrip", 0)
    assert res.returncode != 0
    assert "{" not in res.stdout


@pytest.mark.parametrize("workload,trace", [
    ("wf_roundtrip", 0), ("wf_roundtrip", 1),
    ("batch_queries", 0), ("batch_queries", 1),
    ("backlog_drain", 1),
])
def test_smoke_run_prints_every_metric(workload, trace):
    res = _run(ROOT, workload, trace)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {n: m["unit"] for n, m in out["metrics"].items()} == want
    values = {n: m["value"] for n, m in out["metrics"].items()}
    assert all(isinstance(v, float) for v in values.values())
    # run.py counts a required layer without samples as a failure, so
    # with failed == 0 each of them was measured.
    must_be_positive = END_TO_END if not trace else [
        n for n in REQUIRED[workload] if not n.startswith("spark.spill_mb.")]
    assert all(values[n] > 0 for n in must_be_positive), values
