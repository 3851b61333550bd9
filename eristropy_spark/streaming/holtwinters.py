"""Streaming additive Holt–Winters — the ingest-door twin of
``operators/smoothing.holt_winters`` as a keyed fold
(``streaming/fold.py``, which states the ordering contract), same
batch-parity protocol as ``streaming_rsi_macd`` / ``streaming_zscore``.

State per key is the full recursion state plus the classical-init
buffer: a point counter, the level/trend doubles, the seasonal ring
(m doubles, carried as an array — the state codec stores doubles
bit-exact), and — only until 2·period points have arrived — the
buffered (ts, tiebreak, quantized value) triples the two-season init
needs.  The batch operator's first m output rows (the seasonal init
rows) depend on l₀, which is unknowable before point 2m arrives, so
the twin HOLDS BACK all emission until the 2m-th point, then flushes
the whole init prefix in one micro-batch and streams append-per-event
from there.  Keys that never reach 2m points emit nothing — exactly
the batch operator's drop rule, read as "not enough data yet".

Every quantity folds through the LITERAL batch expressions in the
same order over the same exact-integer grid values (u sums in Python
ints, l₀ = (S/10^d)/m, b₀ = (D/10^d)/m², then the α/β/γ recursion),
so emitted rows are bit-identical to the batch operator on the same
prefix (pinned by test_streaming_holtwinters).

Emission is append-per-event after init; state is O(keys) rows of
(m + 2) doubles and a long once initialized (the init buffer is
cleared on flush) — the continuous-aggregate shape.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows, grid_scale

__all__ = ["streaming_holt_winters"]


def streaming_holt_winters(
    events_stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    tiebreak_col: str | None = None,
    exact_decimals: int = 6,
) -> DataFrame:
    """(key, ts, [tiebreak], i, level, trend, seasonal, fitted) per
    input row once the key has seen >= 2·period points — the streaming
    triple-smoothing chart, bit-identical to the batch operator."""
    m = int(period)
    if m < 2:
        raise ValueError(f"period must be >= 2, got {m}")
    for name, val in (("alpha", alpha), ("gamma", gamma)):
        if not (0.0 < val <= 1.0):
            raise ValueError(f"{name} must be in (0, 1], got {val}")
    if not (0.0 <= beta <= 1.0):
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    scale = float(grid_scale(exact_decimals))
    a, bt, g = float(alpha), float(beta), float(gamma)
    one_a, one_b, one_g = 1.0 - a, 1.0 - bt, 1.0 - g

    def step(key, st, o, v):
        i, lvl, trd, ring, buf_ts, buf_tb, buf_u = st
        u = int(math.floor(float(v) * scale + 0.5))
        i += 1
        if i <= 2 * m:
            # hold the point until the two-season init can run; buf_tb
            # stays empty without a tiebreak column
            buf_ts = buf_ts + [o[0].value // 1000]
            buf_tb = buf_tb + list(o[1:])
            buf_u = buf_u + [u]
            if i < 2 * m:
                return (i, lvl, trd, ring, buf_ts, buf_tb, buf_u), []
            # the literal batch init over the exact-int grid
            l0 = (sum(buf_u[:m]) / scale) / m
            b0 = ((sum(buf_u[m:2 * m]) - sum(buf_u[:m])) / scale) / (m * m)
            x = [ui / scale for ui in buf_u]
            held = [
                (pd.Timestamp(t, unit="us"), *buf_tb[j : j + 1])
                for j, t in enumerate(buf_ts)
            ]
            ring = [x[j] - l0 for j in range(m)]
            lvl, trd = l0, b0
            # init rows: seasonal only
            rows = [(*held[j], j + 1, None, None, ring[j], None) for j in range(m)]
            for t in range(m, 2 * m):  # replay the buffered tail
                su = ring[0]
                f = lvl + trd + su
                new_l = a * (x[t] - su) + one_a * (lvl + trd)
                new_b = bt * (new_l - lvl) + one_b * trd
                new_s = g * (x[t] - new_l) + one_g * su
                ring = ring[1:] + [new_s]
                lvl, trd = new_l, new_b
                rows.append((*held[t], t + 1, new_l, new_b, new_s, f))
            return (i, lvl, trd, ring, [], [], []), rows
        # steady state: one literal recursion step per point
        xt = u / scale
        su = ring[0]
        f = lvl + trd + su
        new_l = a * (xt - su) + one_a * (lvl + trd)
        new_b = bt * (new_l - lvl) + one_b * trd
        new_s = g * (xt - new_l) + one_g * su
        ring = ring[1:] + [new_s]
        lvl, trd = new_l, new_b
        return (i, lvl, trd, ring, [], [], []), [
            (*o, i, new_l, new_b, new_s, f)
        ]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col, tiebreak_col],
        [value_col],
        "i bigint, level double, trend double, seasonal double, fitted double",
        "i bigint, lvl double, trd double, ring array<double>, "
        "buf_ts array<bigint>, buf_tb array<bigint>, buf_u array<bigint>",
        (0, 0.0, 0.0, [], [], [], []),
        step,
    )
