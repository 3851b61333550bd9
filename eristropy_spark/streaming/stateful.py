"""Custom stateful streaming operator — running per-source entropy stats.

A keyed fold (``streaming/fold.py``) keeps a tiny (count, sum, min,
max) state per source across micro-batches and emits the updated
running aggregate on every trigger (update mode) — the engine-level
pattern for custom stateful operators the built-in windowed
aggregations can't express (e.g. lifetime running stats, change
detection on the entropy level of a source).

State is bounded: O(sources) rows of 4 doubles — safe at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_batches

__all__ = ["running_source_stats"]


def _step(key, st, pdfs, group):
    n, total, mn, mx = st
    for pdf in pdfs:
        vals = pdf["sampen"].dropna()
        if len(vals):
            n += int(len(vals))
            total += float(vals.sum())
            bmn, bmx = float(vals.min()), float(vals.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
    return (n, total, mn, mx), [
        (key[0], n, total / n if n else None, mn, mx)
    ]


def running_source_stats(points_stream: DataFrame) -> DataFrame:
    """Streaming (source → lifetime running SampEn stats) via custom state."""
    return fold_batches(
        points_stream,
        ["source"],
        ["sampen"],
        "source string, n_seq bigint, avg_sampen double, min_sampen double, "
        "max_sampen double",
        "n bigint, total double, mn double, mx double",
        (0, 0.0, None, None),
        _step,
    )
