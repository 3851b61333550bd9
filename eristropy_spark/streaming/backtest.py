"""Streaming forecast-baseline backtest — the ingest-door twin of
``operators/backtest.backtest_baselines`` as a keyed fold
(``streaming/fold.py``, which states the ordering contract).

Emits the RUNNING naive/mean/drift MAE + MASE skill scores after every
event, so a live pipeline can watch a signal's forecastability drift
(a mean-reverting signal turning random-walk is a regime change the
batch triage only sees at the next rollup).

State per key is (count, previous value, first value, prefix sum) plus
the four quantized error sums — Python ints in ``string`` state fields
(the 12-dp |e| sums outgrow int64 fast).  Every per-row error and
every emitted metric is the SAME fixed-order float expression the
batch operator evaluates over its DECIMAL sums, so emitted scores are
bit-identical to the batch operator on the same prefix (pinned by
test_streaming_backtest).  Feed integer-valued series (quantize
first), exactly as the batch operator documents.

Emission is append-per-event; state is O(keys) rows of eight scalars.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from eristropy_spark.streaming.fold import fold_rows

__all__ = ["streaming_backtest"]


def _q12(e: float) -> int:
    return int(math.floor(abs(e) * 1e12 + 0.5))


def streaming_backtest(
    events_stream: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(key, ts, [tiebreak], n, mae_naive, rmse_naive, mae_mean,
    mae_drift, mase_mean, mase_drift) per input row — the running
    forecastability monitor."""

    def step(key, st, o, v):
        n, prev, y1, s, sn, sn2, sm, sd = st
        y = int(round(float(v)))
        if n == 0:
            y1 = y
        else:
            # each error is the batch operator's fixed float
            # expression over integer-exact doubles
            e_naive = float(y) - float(prev)
            sn += _q12(e_naive)
            sn2 += int(math.floor(e_naive * e_naive * 1e6 + 0.5))
            sm += _q12(float(y) - float(s) / n)
            if n >= 2:
                sd += _q12(
                    float(y)
                    - (float(prev) + (float(prev) - float(y1)) / (n - 1))
                )
        s += y
        prev = y
        n += 1

        cn = n - 1  # naive/mean error count so far
        cd = n - 2  # drift error count so far
        if cn >= 1:
            mae_naive = float(sn) / 1e12 / cn
            rmse_naive = math.sqrt(float(sn2) / 1e6 / cn)
            mae_mean = float(sm) / 1e12 / cn
        else:
            mae_naive = rmse_naive = mae_mean = None
        mae_drift = float(sd) / 1e12 / cd if cd >= 1 else None
        nz = sn > 0
        mase_mean = mae_mean / mae_naive if nz and cn >= 1 else None
        mase_drift = (
            mae_drift / mae_naive if nz and mae_drift is not None else None
        )
        row = (n, mae_naive, rmse_naive, mae_mean, mae_drift, mase_mean, mase_drift)
        return (n, prev, y1, s, sn, sn2, sm, sd), [(*o, *row)]

    return fold_rows(
        events_stream,
        [key_col],
        [ts_col, tiebreak_col],
        [value_col],
        "n int, mae_naive double, rmse_naive double, mae_mean double, "
        "mae_drift double, mase_mean double, mase_drift double",
        "n bigint, prev bigint, y1 bigint, s string, sn string, sn2 string, "
        "sm string, sd string",
        (0, 0, 0, 0, 0, 0, 0, 0),
        step,
    )
