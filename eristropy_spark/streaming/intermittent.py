"""Streaming Croston/SBA — the ingest-door twin of
``operators/intermittent.croston`` as a keyed fold
(``streaming/fold.py``, which states the ordering contract), same
batch-parity protocol as ``streaming_rsi_macd`` /
``streaming_holt_winters``.

A demand bucket's count is not knowable until the bucket CLOSES (a
later event arrives for the key), so the twin emits one row per
CLOSED bucket: the open bucket accumulates in state and folds through
the recursion the moment a strictly-later bucket starts.  Streaming
output therefore equals the batch operator on every prefix MINUS each
key's final (still-open) bucket — the natural streaming reading of
the batch drop/init rules (pinned by test_streaming_intermittent).
An event for an already-closed bucket would re-open time; the fold
rejects it as an event-time regression.

State per key is five numbers: the closed-demand counter k, the last
closed bucket index, the z/p recursion doubles, plus the open bucket
(index, count) — O(keys), the continuous-aggregate shape.  Every fold
is the LITERAL batch expression in the same order over the same exact
integers (counts, minute gaps), so emitted rows are bit-identical to
batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows

__all__ = ["streaming_croston"]


def streaming_croston(
    events_stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    alpha: float = 0.1,
    bucket: str = "minute",
) -> DataFrame:
    """(key, bucket_ts, k, x, interval, z, p, croston, sba) per CLOSED
    demand bucket — the streaming intermittent-demand forecast."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if bucket not in ("minute", "hour", "day"):
        raise ValueError(f"bucket must be minute/hour/day, got {bucket}")
    sec = {"minute": 60, "hour": 3600, "day": 86400}[bucket]
    a = float(alpha)
    one_a = 1.0 - a
    sba_f = 1.0 - 0.5 * a

    def step(key, st, o):
        k, last_idx, z, p, open_idx, open_x = st
        idx = o[0].value // (sec * 1_000_000_000)
        if open_idx < 0:
            return (k, last_idx, z, p, idx, 1), []
        if idx == open_idx:
            return (k, last_idx, z, p, idx, open_x + 1), []
        # idx > open_idx: the open bucket closes
        k += 1
        g = 1 if k == 1 else int(open_idx - last_idx)
        if k == 1:
            z, p = float(open_x), float(g)
        else:
            z = a * open_x + one_a * z
            p = a * g + one_a * p
        row = (
            pd.Timestamp(int(open_idx) * sec, unit="s"),
            k,
            int(open_x),
            g,
            z,
            p,
            z / p,
            sba_f * (z / p),
        )
        return (k, open_idx, z, p, idx, 1), [row]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col],
        [],
        "bucket_ts timestamp, k bigint, x bigint, interval bigint, z double, "
        "p double, croston double, sba double",
        "k bigint, last_idx bigint, z double, p double, open_idx bigint, "
        "open_x bigint",
        (0, -1, 0.0, 0.0, -1, 0),
        step,
        echo=False,
    )
