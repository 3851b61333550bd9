"""Checkpoint/resume, streaming-rollup and Python worker daemon tests
(north-rule runtime)."""

import datetime as dt
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_checkpoint_resume(spark, tmp_path):
    from eristropy_spark.runtime.checkpoint import CheckpointManager

    cm = CheckpointManager(str(tmp_path / "ckpt"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("double_id")
        )

    a = cm.run_stage(spark, "stage1", "fp-v1", compute)
    assert a.count() == 100 and calls["n"] == 1

    # same fingerprint => resume from the published parquet, no recompute
    b = cm.run_stage(spark, "stage1", "fp-v1", compute)
    assert b.count() == 100 and calls["n"] == 1

    # changed fingerprint => recompute
    c = cm.run_stage(spark, "stage1", "fp-v2", compute)
    assert c.count() == 100 and calls["n"] == 2

    m = cm.manifest("stage1")
    assert m["rows"] == 100
    assert m["fingerprint"] == "fp-v2"
    assert m["rows_per_sec"] > 0
    assert sum(p["rows"] for p in m["partitions"]) == 100
    # manifest is valid JSON on disk (atomic publish)
    with open(os.path.join(str(tmp_path / "ckpt"), "stage1.manifest.json")) as f:
        assert json.load(f)["stage"] == "stage1"


def test_streaming_minute_rollup_matches_batch(spark, tmp_path):
    from eristropy_spark.operators.rollup import rollup_tier
    from eristropy_spark.streaming.rollup import (
        run_available_now,
        streaming_minute_rollup,
    )

    rng = np.random.default_rng(3)
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            doc_id=f"d{i}",
            source=f"src{i % 2}",
            ts=base + dt.timedelta(seconds=int(rng.integers(0, 600))),
            sampen=float(rng.uniform(0, 2)),
            permen=float(rng.uniform(0, 1)),
        )
        for i in range(200)
    ]
    pts = spark.createDataFrame(rows)
    in_dir = str(tmp_path / "pts")
    pts.write.parquet(in_dir)

    stream = streaming_minute_rollup(spark, in_dir)
    q = run_available_now(stream, str(tmp_path / "ckpt"), "t_stream_rollup")
    got = {
        (r["source"], r["bucket"]): (r["n_seq"], round(r["sum_sampen"], 9))
        for r in spark.sql("select * from t_stream_rollup").collect()
    }
    want = {
        (r["source"], r["bucket"]): (r["n_seq"], round(r["sum_sampen"], 9))
        for r in rollup_tier(pts, "minute").collect()
    }
    assert got == want
    q.stop()


def test_stateful_running_stats(spark, tmp_path):
    """applyInPandasWithState: running per-source stats accumulate across
    micro-batches (two files -> two triggers via maxFilesPerTrigger)."""
    import numpy as np
    from pyspark.sql import Row

    from eristropy_spark.streaming.stateful import running_source_stats

    rng = np.random.default_rng(5)
    in_dir = tmp_path / "pts_in"
    rows1 = [
        Row(doc_id=f"a{i}", source="s0", sampen=float(rng.uniform(0.5, 1.5)))
        for i in range(50)
    ]
    rows2 = [
        Row(doc_id=f"b{i}", source="s0", sampen=float(rng.uniform(1.5, 2.5)))
        for i in range(30)
    ]
    spark.createDataFrame(rows1).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(rows2).coalesce(1).write.parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema("doc_id string, source string, sampen double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    out = running_source_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_running_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    hist = spark.sql("select * from t_running_stats").collect()
    # final (largest n_seq) row must equal the batch aggregate of ALL data
    final = max(hist, key=lambda r: r["n_seq"])
    all_vals = [r.sampen for r in rows1 + rows2]
    assert final["n_seq"] == 80
    assert abs(final["avg_sampen"] - sum(all_vals) / 80) < 1e-9
    assert final["min_sampen"] == min(all_vals)
    assert final["max_sampen"] == max(all_vals)
    # state really accumulated across more than one trigger
    assert len(hist) >= 2
    q.stop()


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)
    os.replace(tmp, path)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    from eristropy_spark.runtime import pyworker

    rereads = []

    def counting(self):
        rereads.append(self.prefix)
        pyworker.zipimport.zipimporter.invalidate_caches(self)

    monkeypatch.setattr(pyworker, "_reread", counting)
    monkeypatch.setattr(pyworker, "_stamps", {})
    path = tmp_path / "shipped.zip"
    _write_zip(path, {"pkg/__init__.py": "", "pkg/mod.py": "VALUE = 1\n"})
    top = zipimport.zipimporter(str(path))
    sub = zipimport.zipimporter(os.path.join(str(path), "pkg"))

    pyworker._invalidate_if_changed(top)  # first sight: read and stamp
    pyworker._invalidate_if_changed(sub)  # same archive: shares the read
    pyworker._invalidate_if_changed(top)  # unchanged: skipped
    assert len(rereads) == 1
    assert sub._files is top._files

    # new bytes (and size): re-read once, every importer sees the new module
    _write_zip(path, {"pkg/__init__.py": "", "pkg/mod.py": "VALUE = 22\n",
                      "pkg/extra.py": "VALUE = 3\n"})
    pyworker._invalidate_if_changed(top)
    pyworker._invalidate_if_changed(sub)
    assert len(rereads) == 2
    assert _load(sub, "mod").VALUE == 22 and _load(sub, "extra").VALUE == 3

    # the mtime alone
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    pyworker._invalidate_if_changed(top)
    assert len(rereads) == 3

    # the inode alone: same bytes and mtime, replaced file
    st = os.stat(path)
    copy = tmp_path / "copy.zip"
    copy.write_bytes(path.read_bytes())
    os.utime(copy, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(copy, path)
    assert os.stat(path).st_ino != st.st_ino
    pyworker._invalidate_if_changed(top)
    assert len(rereads) == 4
    pyworker._invalidate_if_changed(top)
    assert len(rereads) == 4


# defined in the job's own source, so it ships by value to the workers
_WORKER_STATE = """
def worker_state(_):
    import gc
    import zipimport

    return (
        zipimport.zipimporter.invalidate_caches.__qualname__,
        gc.get_freeze_count(),
    )
"""


def test_spark_workers_run_engine_daemon(spark):
    ns = {}
    exec(_WORKER_STATE, ns)
    states = spark.sparkContext.parallelize(range(8), 4).map(ns["worker_state"]).collect()
    assert {name for name, _ in states} == {"_invalidate_if_changed"}
    assert all(frozen > 0 for _, frozen in states)


def test_rewritten_pyfile_zip_is_reread(spark, tmp_path):
    from pyspark import SparkFiles

    sc = spark.sparkContext
    src = tmp_path / "pyworker_probe.zip"
    _write_zip(src, {"pyworker_probe_a.py": "VALUE = 1\n"})
    sc.addPyFile(str(src))

    def import_value(name):
        return lambda _: __import__(name).VALUE

    rdd = sc.parallelize(range(8), 4)
    assert set(rdd.map(import_value("pyworker_probe_a")).collect()) == {1}
    # rewrite the copy the workers import from, as a re-shipped zip would
    # be: a new file renamed over the old one
    _write_zip(
        SparkFiles.get("pyworker_probe.zip"),
        {"pyworker_probe_a.py": "VALUE = 1\n", "pyworker_probe_b.py": "VALUE = 2\n"},
    )
    assert set(rdd.map(import_value("pyworker_probe_b")).collect()) == {2}


def test_daemon_found_without_pythonpath_or_repo_cwd(tmp_path):
    # a caller outside the checkout with no PYTHONPATH still gets the
    # engine daemon on its workers
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver.py"
    script.write_text(
        "import json, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from eristropy_spark.runtime.session import get_spark\n"
        + _WORKER_STATE
        + "spark = get_spark(app_name='pyworker-cwd', cores=1)\n"
        "print(json.dumps(spark.sparkContext.parallelize([0], 1).map(worker_state).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    [[name, frozen]] = json.loads(out.stdout.strip().splitlines()[-1])
    assert name == "_invalidate_if_changed" and frozen > 0
