"""Streaming CUSUM change-point alarm — the ingest-door form of
``operators/changepoint.cusum_changepoints`` (Page 1954) as a keyed
fold (``streaming/fold.py``, which states the ordering contract).

Per key the two-sided chart is a pure left fold, so the streaming
state is FOUR integers on the ``exact_decimals`` grid:

    p_pos += v - target - k        m_pos = min(m_pos, p_pos, 0)
    p_neg += target - v - k        m_neg = min(m_neg, p_neg, 0)
    cusum_pos = p_pos - m_pos      cusum_neg = p_neg - m_neg

(the same prefix-sum + running-min reflection the batch operator
factors the max(0, ·) recursion into — algebraically identical to
Page's chart).  All accumulation is EXACT integer arithmetic in grid
units (Python ints — no overflow, no float drift across millions of
micro-batches), so emitted statistics are bit-identical to the batch
operator on the same prefix.

Requires an explicit ``target`` (the known-target mode of the batch
operator): a full-series mean is not knowable at the ingest door —
calibrate target/k/h on history upstream.

State is O(keys) rows of four ints + emitted rows are append-per-event
(every input row yields its chart point exactly once).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows, grid_scale

__all__ = ["streaming_cusum"]


def streaming_cusum(
    events_stream: DataFrame,
    key_col: str,
    target: float,
    k: float = 0.5,
    h: float = 5.0,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    exact_decimals: int = 6,
) -> DataFrame:
    """(key, ts, [tiebreak], cusum_pos, cusum_neg, alarm) per input
    row — the streaming two-sided CUSUM chart with known target.

    ``k``/``h``/``target`` follow the batch operator's semantics and
    must be exact on the ``exact_decimals`` grid.
    """
    if k < 0:
        raise ValueError(f"allowance k must be >= 0, got {k}")
    if h <= 0:
        raise ValueError(f"threshold h must be > 0, got {h}")
    scale = grid_scale(exact_decimals, k=k, target=target, h=h)
    kq = int(round(k * scale))
    tq = int(round(target * scale))
    hq = int(round(h * scale))

    def step(key, st, o, v):
        p_pos, p_neg, m_pos, m_neg = st
        vq = int(math.floor(float(v) * scale + 0.5))
        p_pos += vq - tq - kq
        p_neg += tq - vq - kq
        m_pos = min(m_pos, p_pos, 0)
        m_neg = min(m_neg, p_neg, 0)
        c_pos = p_pos - m_pos
        c_neg = p_neg - m_neg
        row = (float(c_pos) / scale, float(c_neg) / scale, c_pos > hq or c_neg > hq)
        return (p_pos, p_neg, m_pos, m_neg), [(*o, *row)]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col, tiebreak_col],
        [value_col],
        "cusum_pos double, cusum_neg double, alarm boolean",
        "p_pos bigint, p_neg bigint, m_pos bigint, m_neg bigint",
        (0, 0, 0, 0),
        step,
    )
