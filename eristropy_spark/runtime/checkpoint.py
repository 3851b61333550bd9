"""Checkpoint manifests — resumable stage graph + per-partition lineage.

North-rule runtime contract: runs are resumable from checkpoints with
per-partition lineage and rows/sec metrics.  Without an Iceberg catalog
in this sandbox (SURVEY.md §7.3 hazard 10) the same semantics are
provided by parquet outputs + JSON manifests: a manifest is the
snapshot pointer (atomic tmp→rename publish), its input fingerprint is
the lineage edge, and a re-run with an unchanged fingerprint reads the
published output instead of recomputing.  Swapping in Iceberg later
only changes ``_publish``/``_load`` (table commit / snapshot-id read).

Manifest schema (one JSON per stage):
  stage, fingerprint, path, rows, wall_sec, rows_per_sec,
  partitions: [{pid, rows}], created_at_unix
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eristropy_spark.sources.catalog import read_parquet

__all__ = ["CheckpointManager"]


class CheckpointManager:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        fingerprint: str,
        compute: Callable[[], DataFrame],
    ) -> DataFrame:
        """Compute-or-resume one stage.

        If a manifest exists for ``stage`` with the same input
        ``fingerprint``, the published parquet is read back (resume).
        Otherwise ``compute()`` runs, the result is published
        atomically, and lineage metrics are recorded.
        """
        m = self.manifest(stage)
        if m is not None and m.get("fingerprint") == fingerprint:
            return read_parquet(spark, m["path"])

        t0 = time.time()
        df = compute().persist()
        rows = df.count()
        # per-partition lineage: rows per physical partition of the
        # computed result (cached, so this does not recompute the stage)
        parts = [
            {"pid": int(r["pid"]), "rows": int(r["count"])}
            for r in df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        ]
        path = self._data_path(stage)
        df.write.mode("overwrite").parquet(path)
        wall = time.time() - t0
        df.unpersist()

        manifest = {
            "stage": stage,
            "fingerprint": fingerprint,
            "path": path,
            "rows": rows,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
            "partitions": sorted(parts, key=lambda d: d["pid"]),
            "created_at_unix": int(t0),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(stage))  # atomic publish
        return read_parquet(spark, path)
