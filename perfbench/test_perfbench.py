"""Tests of the benchmark itself (not part of the repo's tier-1 suite).

Run from the checkout root:

    python3 -m pytest perfbench/test_perfbench.py -q

The two Spark runs take about two minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")

sys.path.insert(0, BENCH_DIR)
import run as launcher  # noqa: E402
from tracing import metric_value  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _launch(*args: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize(
    "args, env_extra, named",
    [
        (["--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0"],
         {}, "--workload"),
        (["--workload", "ingest_replay", "--seed", "x", "--seconds", "1", "--trace", "0"],
         {}, "--seed"),
        (["--workload", "ingest_replay", "--seed", "1", "--seconds", "0", "--trace", "0"],
         {}, "--seconds"),
        (["--workload", "ingest_replay", "--seed", "1", "--seconds", "1", "--trace", "2"],
         {}, "--trace"),
        (["--workload", "ingest_replay", "--seed", "1", "--seconds", "1", "--trace", "0"],
         {"SPARK_GRAFT_CPUS": "four"}, "SPARK_GRAFT_CPUS"),
    ],
)
def test_bad_input_fails_by_name(args, env_extra, named):
    p = _launch(*args, env=dict(os.environ, **env_extra))
    assert p.returncode == 2
    assert named in p.stderr
    assert p.stdout == ""


def test_metric_display_strings_parse_to_base_units():
    assert metric_value("1,234") == 1234
    assert metric_value("238 ms") == pytest.approx(0.238)
    assert metric_value("189.1 KiB") == pytest.approx(189.1 * 1024)
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n7.8 s (1.9 s, 2.0 s, 2.0 s (stage 4.0: task 3))"
    ) == pytest.approx(7.8)


def test_declared_workloads_exist():
    declared = {w["name"] for w in _declared()["workloads"]}
    assert declared <= set(launcher.WORKLOADS)


def test_smoke_run_prints_declared_metrics():
    p = _launch("--workload", "ingest_replay", "--seed", "7", "--seconds", "1",
                "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= len(launcher.WORKLOADS["ingest_replay"])
    want = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_expected_result_counts_as_failed():
    """A traced run whose oracle for one query is corrupted: every draw
    of that query fails, and the per-layer record is still complete."""
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {BENCH_DIR!r})\n"
        "import harness\n"
        "harness.relocate_package()\n"
        "from simple_vector_spark import registry\n"
        "oracles = dict(registry._ORACLES)\n"
        "q = 'wal_replay_state'\n"
        "oracles[q] = f'SELECT * FROM ({oracles[q]}) AS t LIMIT 0'\n"
        "r = harness.run('ingest_replay', 7, 1, True, oracles=oracles)\n"
        "print(json.dumps(r))\n"
    )
    env = launcher.child_env(launcher.spark_cpus())
    p = subprocess.run([sys.executable, "-c", script], cwd=launcher.WORK, env=env,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] > 0
    assert result["info"]["failed_frac"][0] > 0
    assert "wal_replay_state round oracle" in p.stderr
    want = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
