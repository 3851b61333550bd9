"""Self-tests for the benchmark.  They start real Spark runs (a few
minutes in total):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

sys.path.insert(0, BENCH_DIR)
import tracing  # noqa: E402


def run(workload, seed, trace=0, env=None):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
        env={**os.environ, **(env or {})},
    )
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    observed = [
        json.loads(ln.split(" ", 1)[1])
        for ln in proc.stderr.splitlines()
        if ln.startswith("observed ")
    ]
    return proc.returncode, line, observed[-1] if observed else None


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def rollup_seed1():
    return run("rollup_synth", 1)


def test_end_to_end_names_match_spec(spec, rollup_seed1):
    rc, line, _ = rollup_seed1
    assert rc == 0 and line["correct"] and line["failed"] == 0
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    for m in spec["end_to_end"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"]
        assert line["metrics"][m["name"]]["value"] > 0


def test_per_layer_names_match_spec(spec):
    rc, line, _ = run("rollup_synth", 1, trace=1)
    assert rc == 0 and line["correct"]
    assert list(line["metrics"]) == [m["name"] for m in spec["per_layer"]]


def test_seed_changes_fingerprint_not_metric_set(rollup_seed1):
    _, line1, obs1 = rollup_seed1
    rc, line2, obs2 = run("rollup_synth", 2)
    assert rc == 0 and line2["correct"]
    assert obs1["fingerprint"] != obs2["fingerprint"]
    assert list(line1["metrics"]) == list(line2["metrics"])


def test_corrupted_expected_hash_fails(tmp_path):
    expected = tmp_path / "expected"
    shutil.copytree(os.path.join(BENCH_DIR, "expected"), expected)
    path = expected / "queries.json"
    hashes = json.loads(path.read_text())
    hashes["tpch_q1"] = str(int(hashes["tpch_q1"]) + 1)
    path.write_text(json.dumps(hashes))
    rc, line, _ = run("queries", 1, env={"PERFBENCH_EXPECTED_DIR": str(expected)})
    assert rc != 0
    assert not line["correct"]
    assert line["failed"] / line["attempted"] > 0


def test_refuses_directory_without_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_busy_union_merges_overlapping_stages():
    def st(a, b):
        return tracing.StageRow(0, None, 0.0, 0.0, 0.0, 1, a, b)

    stages = [st(0.0, 2.0), st(1.0, 3.0), st(5.0, 6.0), st(9.0, 20.0)]
    assert tracing.busy_union_s(stages, 0.0, 10.0) == pytest.approx(5.0)
