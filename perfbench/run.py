"""Benchmark entry point for the entropy rollup engine.

    python3 perfbench/run.py --workload rollup_synth --seed 1 --seconds 30 --trace 0

Runs one workload (``rollup_synth`` or ``queries``) on 4 local cores in
its own subprocess, checks every output, and prints
one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
metrics of a separate traced operation.  The exit code is 0 only when
every output check passed.  ``--record`` stores the observed hashes as
the expected ones (queries) or the recorded fingerprint for the seed
(rollup_synth).  Must be run from the root of a checkout of the repo;
all scratch files go to ``.perfbench-work/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CHILD_TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group; zombies
        # are already dead and only wait for their parent to reap them
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for the workload's process group to exit, then kill what is left."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.2)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while _group_alive(pgid):
            time.sleep(0.1)


def run_child(args, expected_dir: str, result_path: str) -> dict | None:
    work = os.path.join(ROOT, ".perfbench-work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS="4",
        SPARK_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        OMP_NUM_THREADS="1",
        # keep every JVM's scratch files (and no perf-data file) in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--expected-dir", expected_dir, "--result", result_path,
    ] + (["--record"] if args.record else [])
    # the child's stdout (Spark and CLI chatter) goes to our stderr so
    # that our stdout carries only the result line
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"workload timed out after {CHILD_TIMEOUT_S} s", file=sys.stderr)
    _stop_group(proc.pid)
    if proc.returncode != 0 or not os.path.exists(result_path):
        return None
    with open(result_path) as f:
        res = json.load(f)
    os.remove(result_path)
    return res


def record(args, expected_dir: str, res: dict) -> None:
    observed = res["observed"]
    if args.workload == "queries":
        path, data = os.path.join(expected_dir, "queries.json"), observed["hashes"]
    else:
        path = os.path.join(expected_dir, "rollup_fingerprints.json")
        data = {}
        if os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
        data[str(args.seed)] = observed["fingerprint"]
    with open(path, "w") as f:
        json.dump(dict(sorted(data.items())), f, indent=1)
        f.write("\n")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["rollup_synth", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record", action="store_true",
                   help="store observed hashes as the expected ones")
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("eristropy_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"not a checkout of the engine: {need} is missing", file=sys.stderr)
            return 2
    with open(spec_path) as f:
        spec = json.load(f)

    expected_dir = os.environ.get(
        "PERFBENCH_EXPECTED_DIR", os.path.join(BENCH_DIR, "expected")
    )
    result_path = os.path.join(ROOT, ".perfbench-work", f"result-{os.getpid()}.json")
    res = run_child(args, expected_dir, result_path)
    if res is None:
        print("workload process failed; no result", file=sys.stderr)
        return 1
    print("observed " + json.dumps(res["observed"]), file=sys.stderr)
    print("op_s " + json.dumps(res.get("op_s")), file=sys.stderr)
    print("phases " + json.dumps(res.get("phases")), file=sys.stderr)
    if args.record:
        record(args, expected_dir, res)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res.get("metrics", {})
    missing = [m["name"] for m in wanted if m["name"] not in got]
    for msg in res["failures"]:
        print(f"FAILED: {msg}", file=sys.stderr)
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
    failed = min(len(res["failures"]), res["attempted"])
    correct = failed == 0 and not missing
    line = {
        "correct": correct,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {
            m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
            for m in wanted
            if m["name"] in got
        },
    }
    print(json.dumps(line))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
