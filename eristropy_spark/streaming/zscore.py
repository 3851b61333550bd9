"""Streaming lifetime z-score — the ingest-door twin of
``operators/rolling.expanding_zscore`` as a keyed fold
(``streaming/fold.py``, which states the ordering contract).

State per key is THREE exact integers on the 6-dp grid: the point
count and the running Σv / Σv² in grid units (Python ints — no
overflow, no float drift across micro-batches; Σv² in 1e-12 grid units
overflows int64 fast, so the two sums are ``string`` state fields).
Mean, the ddof=1 variance and z are the same fixed-order float
expressions the batch operator evaluates over its DECIMAL running sums,
so emitted scores are bit-identical to the batch operator on the same
prefix (pinned by test_streaming_zscore) — past 2^53 and past 2^63 grid
units too (test_streaming_fold), because both sides round the exact
sums to double once.

Emission is append-per-event; state is O(keys) rows of three ints.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows

__all__ = ["streaming_zscore"]


def streaming_zscore(
    events_stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(key, ts, [tiebreak], exp_mean, exp_std, exp_z) per input row —
    the streaming lifetime z-score chart."""
    scale = 10**6

    def step(key, st, o, v):
        n, s1, s2 = st
        v6 = math.floor(float(v) * scale + 0.5) / scale
        u = int(round(v6 * scale))
        n += 1
        s1 += u
        s2 += u * u
        # the batch operator's exact decimal sums, cast to
        # double: s1 grid units = s1/1e6, s2 units = s2/1e12.  int/int
        # true division is correctly rounded, as Spark's DECIMAL ->
        # double cast is; float(s2) / 1e12 would round s2 first once
        # it passes 2^53
        nd = float(n)
        s1d = s1 / 10**6
        s2d = s2 / 10**12
        mean = s1d / nd
        std = z = None
        if n >= 2:
            var = (s2d - s1d * s1d / nd) / (nd - 1.0)
            std = math.sqrt(var)
            z = (v6 - mean) / math.sqrt(var) if var > 0.0 else None
        return (n, s1, s2), [(*o, mean, std, z)]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col, tiebreak_col],
        [value_col],
        "exp_mean double, exp_std double, exp_z double",
        "n bigint, s1 string, s2 string",
        (0, 0, 0),
        step,
    )
