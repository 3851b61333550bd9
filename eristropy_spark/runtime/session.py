"""SparkSession factory with engine defaults tuned for the workload.

Settings rationale (100 TB target, tested on local[N]):

* AQE on — runtime coalescing + skew-join splitting for the rollup
  shuffles.
* Arrow enabled with a bounded batch size — token arrays make rows
  wide, so cap records per batch to keep Python-worker memory flat
  (SURVEY.md §7.3 hazard 9).
* shuffle.partitions default 32 locally; on a real cluster this is
  overridden by AQE coalescing from a higher initial value.
* Python workers fork from the engine's daemon (``runtime/pyworker.py``,
  set as ``spark.python.daemon.module``) instead of pyspark's own.
  pyspark calls ``importlib.invalidate_caches()`` at the start of every
  task, and on CPython 3.11 that makes every zipimporter on the worker
  path re-read its archive's directory: ~40 ms per importer for the
  spark-core jar (5,359 entries, no ``.py`` file, two importers) and
  ~7 ms per sub-package importer of ``pyspark.zip`` (a dozen), ~0.25 s
  per call in all.  A reused worker also runs a ~40 ms ``gc.collect()``
  after each task.  Measured on local[4] (4 vCPUs), a 16-task
  ``mapInArrow`` that does nothing took 1.0-1.6 s against 0.1-0.2 s
  for the JVM-only stage.  The daemon re-reads an archive only when it
  changed (the call then takes ~0.2 ms) and freezes the preloaded
  worker modules out of the collector (~1 ms a collection); the no-op
  stage takes 0.3-0.4 s.  ``spark.executorEnv.PYTHONPATH`` carries the
  package root, so the daemon imports whatever the caller's cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism"]

# directory holding the ``eristropy_spark`` package: on the Python
# workers' path whatever the caller's cwd, so the daemon module imports
_PKG_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "eristropy-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # non-ANSI: double/0 yields NULL (like the DuckDB 1.0 oracle and
        # the reference's NumPy NaN semantics) instead of throwing
        # DIVIDE_BY_ZERO on degenerate-but-valid groups (constant signal →
        # stddev 0, single-event signal → var_pop 0, zero embedding → norm 0)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # split input files so a scan task's rows (plus its Arrow batch
        # and Python-worker copies) stay well inside executor memory even
        # for token-array rows; at 100 TB this also sets the scan-stage
        # task count to data/64MB, independent of file layout
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "eristropy_spark.runtime.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
