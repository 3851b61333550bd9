"""Streaming Page–Hinkley drift alarm — the ingest-door twin of
``operators/changepoint.page_hinkley`` (Page 1954; the streaming-drift
form of Mouss et al. 2004) as a keyed fold (``streaming/fold.py``,
which states the ordering contract).

Unlike the known-target streaming CUSUM (``streaming/cusum.py``),
Page–Hinkley self-centers on the RUNNING mean — which IS a streaming
quantity — so this twin needs no upstream calibration at all: the
per-key state is five integers on the ``exact_decimals`` grid plus
the first-alarm index,

    i      observation count
    S     += u_i                     (grid units of the value)
    M     += floor((u_i/g − (S/g)/i − δ)·g + 0.5)   g = 10^d
    minM   = min(minM, M)
    ph     = M − minM,   ph_max = max(ph_max, ph)
    alarm  = first i with ph > λ·g   (sticky)

— the EXACT integer fold of the batch operator's DECIMAL windows
(u/g and S/g are correctly-rounded doubles of the same rationals the
batch CASTs from DECIMAL, and the per-term floor quantization matches
``_floor_round``), so the emitted chart is bit-identical to the batch
operator on the same prefix (parity-pinned in
tests/test_streaming_ph.py).

State is O(keys); every input row emits its chart point exactly once
(append mode).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows, grid_scale

__all__ = ["streaming_page_hinkley"]


def streaming_page_hinkley(
    events_stream: DataFrame,
    key_col: str,
    delta: float = 0.0,
    lam: float = 50.0,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    exact_decimals: int = 6,
) -> DataFrame:
    """(key, ts, [tiebreak], i, ph, ph_max, alarm_i, alarm) per input
    row — the streaming Page–Hinkley chart.  ``delta``/``lam`` follow
    the batch operator's semantics and must be exact on the
    ``exact_decimals`` grid."""
    if lam <= 0:
        raise ValueError(f"threshold lam must be > 0, got {lam}")
    scale = grid_scale(exact_decimals, delta=delta, lam=lam)
    lam_units = int(round(lam * scale))
    delta_f = float(delta)

    def step(key, st, o, v):
        i, s_units, m_units, min_m, ph_max, alarm_i = st
        u = int(math.floor(float(v) * scale + 0.5))
        i += 1
        s_units += u
        # the batch operator's exact float shape:
        # CAST(vq AS DOUBLE) - CAST(S AS DOUBLE)/i - delta
        term = u / scale - (s_units / scale) / i - delta_f
        m_units += int(math.floor(term * scale + 0.5))
        min_m = m_units if i == 1 else min(min_m, m_units)
        ph = m_units - min_m
        ph_max = max(ph_max, ph)
        if alarm_i < 0 and ph > lam_units:
            alarm_i = i
        return (i, s_units, m_units, min_m, ph_max, alarm_i), [
            (
                *o,
                i,
                float(ph) / scale,
                float(ph_max) / scale,
                alarm_i if alarm_i > 0 else None,
                ph > lam_units,
            )
        ]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col, tiebreak_col],
        [value_col],
        "i bigint, ph double, ph_max double, alarm_i bigint, alarm boolean",
        # alarm_i = -1: no alarm yet
        "i bigint, s_units bigint, m_units bigint, min_m bigint, "
        "ph_max bigint, alarm_i bigint",
        (0, 0, 0, 0, 0, -1),
        step,
    )
