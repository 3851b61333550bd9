"""Streaming RSI + MACD — the ingest-door twin of
``operators/momentum.rsi_macd`` as a keyed fold (``streaming/fold.py``,
which states the ordering contract), the same batch-parity protocol as
``streaming_zscore`` / ``streaming_cusum``.

State per key is the full recursion state: the point index, the
previous value, the fast/slow/signal EMA states, the Wilder seed
accumulators, and the running average gain/loss — all as doubles (the
state codec stores doubles bit-exact) plus one long counter.  Each
arriving point folds through the LITERAL batch expressions in the same
order, so emitted values are bit-identical to the batch operator on the
same prefix (pinned by test_streaming_momentum).

Emission is append-per-event; state is O(keys) rows of eight doubles
and a long — the continuous-aggregate shape (tiny bounded state, no
window buffer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows

__all__ = ["streaming_rsi_macd"]


def streaming_rsi_macd(
    events_stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    rsi_period: int = 14,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(key, ts, [tiebreak], macd, macd_signal, macd_hist, rsi) per
    input row — the streaming momentum chart."""
    if rsi_period < 1:
        raise ValueError(f"rsi_period must be >= 1, got {rsi_period}")
    if not (0 < fast < slow):
        raise ValueError(f"need 0 < fast < slow, got fast={fast} slow={slow}")
    if signal < 1:
        raise ValueError(f"signal must be >= 1, got {signal}")
    n = int(rsi_period)
    af = 2.0 / (fast + 1.0)
    as_ = 2.0 / (slow + 1.0)
    ag_a = 2.0 / (signal + 1.0)

    def step(key, st, o, v):
        i, prev_v, ef, es, sg, seed_g, seed_l, ag, al = st
        v = float(v)
        rsi_val = None
        if i == 0:
            ef = v
            es = v
            m = ef - es
            sg = m
        else:
            ef = (1.0 - af) * ef + af * v
            es = (1.0 - as_) * es + as_ * v
            m = ef - es
            sg = (1.0 - ag_a) * sg + ag_a * m
            d = v - prev_v
            g = d if d > 0.0 else 0.0
            ls = -d if d < 0.0 else 0.0
            if i < n:
                seed_g = seed_g + g
                seed_l = seed_l + ls
            elif i == n:
                ag = (seed_g + g) / float(n)
                al = (seed_l + ls) / float(n)
            else:
                ag = (ag * (n - 1.0) + g) / float(n)
                al = (al * (n - 1.0) + ls) / float(n)
            if i >= n:
                if al == 0.0:
                    rsi_val = 100.0 if ag > 0.0 else 50.0
                else:
                    rsi_val = 100.0 - 100.0 / (1.0 + ag / al)
        prev_v = v
        i += 1
        st = (i, prev_v, ef, es, sg, seed_g, seed_l, ag, al)
        return st, [(*o, m, sg, m - sg, rsi_val)]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col, tiebreak_col],
        [value_col],
        "macd double, macd_signal double, macd_hist double, rsi double",
        # ag/al stay NULL until the Wilder seed completes at point n
        "i bigint, prev_v double, ef double, es double, sg double, "
        "seedg double, seedl double, ag double, al double",
        (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, None),
        step,
    )
