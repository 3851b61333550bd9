"""Reset-aware counter rates — the monitoring-timeseries primitive
(Prometheus-style ``increase``/``rate`` semantics, public docs:
prometheus.io/docs/prometheus/latest/querying/functions): per key in
time order, the per-sample increase of a monotonically-increasing
counter, treating any decrease as a counter RESET (process restarted,
counter restarted from 0 — the new value IS the increase), and the
per-second rate over the elapsed gap.

Scale shape: ONE shuffle (the per-key window partitioning); lag() is a
streaming frame (one row of state per key), so tasks are O(rows) with
O(1) memory per key — this survives any fan-out.  The order key is
(ts, tiebreak) so simultaneous samples resolve identically in every
engine; elapsed time is computed in exact integer MICROSECONDS and the
rate as ``increase * 1e6 / dt_us`` so both engines evaluate the same
IEEE expression.

First row per key has no predecessor: increase/rate are NULL (not 0 —
a window that hasn't seen two samples has no rate).  Zero-elapsed
pairs (duplicate timestamps under the tiebreak) get NULL rate, never
inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import micros

__all__ = ["counter_rate"]


def counter_rate(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    detect_resets: bool = True,
    increase_col: str = "increase",
    rate_col: str = "rate",
) -> DataFrame:
    """Append per-sample ``increase`` and per-second ``rate`` of a
    counter column per ``key``, ordered by (``ts_col``, ``tiebreak_col``).

    ``detect_resets=True`` (the monitoring default) maps a decrease to
    a reset: ``increase = value`` (counter restarted from 0 since the
    previous sample).  With ``detect_resets=False`` the raw signed
    delta passes through (a plain first-difference with elapsed-time
    rate — gauges).

    Input rows pass through unchanged; no rows are dropped.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(*keys).orderBy(*order)

    v = F.col(value_col).cast("double")
    prev_v = F.lag(v).over(w)
    delta = v - prev_v
    if detect_resets:
        inc = F.when(delta < 0, v).otherwise(delta)
    else:
        inc = delta
    us = micros(df, ts_col)
    dt_us = us - F.lag(us).over(w)
    rate = F.when(dt_us > 0, inc * F.lit(1_000_000.0) / dt_us)
    return df.withColumn(increase_col, inc).withColumn(rate_col, rate)
