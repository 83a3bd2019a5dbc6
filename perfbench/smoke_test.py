"""Smoke test of the benchmark itself, at tiny sizes (about five minutes).

    python3 -m pytest perfbench/smoke_test.py -q

Checks that every metric named in BENCHMARK.json prints with its unit,
that a run's outputs pass their check, and that a deliberately wrong
expected value makes the check fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import telemetry  # noqa: E402
from perfbench.tracing import _covered, layer_metric_units  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7", "--seconds", "1", "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    detail, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return detail, result


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_and_check_passes(workload):
    detail, result = _run(workload, "--trace", "0")
    assert result["correct"] and result["failed"] == 0, detail
    _assert_metrics(result, SPEC["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    assert {"nproc", "loadavg_start", "cpu_steal_frac"} <= set(detail["host"])
    assert detail["driver_peak_rss_mb"]["unit"] == "MB" and detail["driver_peak_rss_mb"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    detail, result = _run(workload, "--trace", "1")
    assert result["correct"], detail
    _assert_metrics(result, SPEC["per_layer"])
    layers = result["metrics"]
    assert layers["session.get_spark_s"]["value"] > 0
    own = "plans.compile" if workload == "obs_hourly" else "streaming.fold"
    assert layers[f"{own}.jobs"]["value"] > 0 and layers[f"{own}.tasks"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_value_fails_the_check(workload):
    detail, result = _run(workload, "--trace", "0", "--corrupt-expected")
    assert not result["correct"] and result["failed"] == 1, detail
    assert detail["mismatches"]


def test_per_layer_list_matches_tracer():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == layer_metric_units()


def test_truth_reproduces_reference_tlb():
    """The generator's TLB oracle, fed the reference's own golden hour,
    gives the reference's committed metrics."""
    fixtures = os.path.join(REPO, "tests", "fixtures", "reference_hour")
    rows = {}
    for name in ("user_exp", "trace", "log"):
        with open(os.path.join(fixtures, f"{name}_2024111612.json")) as f:
            rows[name] = json.load(f)
    with open(os.path.join(fixtures, "expected", "tlb_metrics", "2024111612.json")) as f:
        want = json.load(f)
    got = telemetry.obs_truth(rows)["tlb"]
    assert {c: {k: float(v) for k, v in m.items()} for c, m in got.items()} == {
        c: {k: float(v) for k, v in m.items()} for c, m in want.items()
    }


def test_generator_is_seeded():
    shape = telemetry.Shape()
    assert telemetry.generate_hour(3, 5, shape) == telemetry.generate_hour(3, 5, shape)
    assert telemetry.generate_hour(3, 5, shape) != telemetry.generate_hour(4, 5, shape)


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2)], 1, 10) == 1
