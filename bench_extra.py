"""Targeted per-query timing + plan capture (guide §1.1/§1.4/§7.2).

NOT the frozen driver bench (bench.py) — a developer harness for the
optimization loop: time a named subset of declared queries with the
SAME consume methodology as bench.py (hash every column of every row),
best-of-N, cache cleared between reps, and optionally dump
``explain("formatted")`` per query for the plans/r06 artifacts.

Usage:
    python bench_extra.py [--reps 3] [--plan plans/r06 --suffix _before] \
        [--sf /root/testdata/sf0.1] query1 query2 ...
    python bench_extra.py --all          # every declared query once
    python bench_extra.py --build --all --cores 4 --sf /root/testdata/sf0.01

Prints one line per query: name, best sec, all rep secs.

``--build`` splits each query into its build (the query function
returning a DataFrame) and its execution (the consume-hash
``collect()``).  It runs the queries twice and reports the second pass:
per query, build and exec seconds, the py4j round trips during the
build (every ``ClientServerConnection.send_command``) and the Spark jobs
the build launched (``statusTracker`` over a per-query job group), then
the sums and the pre-execution share, build / (build + exec).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SKIP = {"ngram_jaccard", "embed_dedup_exact", "dedup_clusters"}


def consume(df) -> None:
    from pyspark.sql import functions as F

    df.select(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")).collect()


def build_profile(spark, qs, names, sf) -> dict:
    """Two passes of build-then-consume per query; the second pass's
    per-query row and its sums."""
    from py4j.clientserver import ClientServerConnection

    sends = [0]
    orig = ClientServerConnection.send_command

    def counted(self, command):
        sends[0] += 1
        return orig(self, command)

    ClientServerConnection.send_command = counted
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = {}
    try:
        for pass_no in range(2):
            for name in names:
                group = f"build:{pass_no}:{name}"
                # free the previous query's JVM references before counting
                gc.collect()
                sc.setJobGroup(group, group)
                rt0, t0 = sends[0], time.perf_counter()
                df = qs[name](spark, sf)
                build_s = time.perf_counter() - t0
                rt = sends[0] - rt0
                jobs = len(tracker.getJobIdsForGroup(group))
                sc.setJobGroup(f"exec:{pass_no}:{name}", name)
                t0 = time.perf_counter()
                consume(df)
                exec_s = time.perf_counter() - t0
                del df
                spark.catalog.clearCache()
                rows[name] = {"build_s": round(build_s, 4), "exec_s": round(exec_s, 4),
                              "build_rt": rt, "build_jobs": jobs}
                if pass_no == 1:
                    print(f"{name}: build={build_s:.3f}s exec={exec_s:.3f}s "
                          f"rt={rt} jobs={jobs}", flush=True)
    finally:
        ClientServerConnection.send_command = orig
        sc.setJobGroup(None, None)
    build = sum(r["build_s"] for r in rows.values())
    exe = sum(r["exec_s"] for r in rows.values())
    summary = {
        "queries": len(rows),
        "build_s": round(build, 2),
        "exec_s": round(exe, 2),
        "pre_exec_share": round(build / (build + exe), 3) if build + exe else 0.0,
        "build_rt": sum(r["build_rt"] for r in rows.values()),
        "build_jobs": sum(r["build_jobs"] for r in rows.values()),
        "queries_with_build_jobs": sum(1 for r in rows.values() if r["build_jobs"]),
    }
    return {"summary": summary, "per_query": rows}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None, help="dir to write explain output")
    ap.add_argument("--suffix", default="", help="plan file suffix, e.g. _before")
    ap.add_argument("--build", action="store_true",
                    help="split build from execution: seconds, py4j round trips, jobs")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    from eristropy_spark.runtime.session import get_spark

    spark = get_spark(app_name="bench-extra", cores=args.cores)
    qs = entrymod.queries()
    names = [n for n in qs if n not in SKIP] if args.all else args.queries
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        sys.exit(1)

    if args.build:
        print(json.dumps(build_profile(spark, qs, names, args.sf)))
        spark.stop()
        return

    if args.plan:
        os.makedirs(args.plan, exist_ok=True)

    out = {}
    for name in names:
        fn = qs[name]
        if args.plan:
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plan, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        reps = []
        for _ in range(max(1, args.reps)):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            consume(fn(spark, args.sf))
            reps.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        out[name] = min(reps)
        print(f"{name}: best={min(reps):.3f}s reps={reps}", flush=True)
    print(json.dumps({"best": out}))
    spark.stop()


if __name__ == "__main__":
    main()
