"""Time-range rolling-window statistics and rolling-z-score anomaly
flags — the per-signal moving aggregates of a timeseries engine
(trailing mean/std/min/max/count over "the last W seconds", not the
last N rows).

Scale shape: ONE shuffle (the per-key window partitioning).  Spark's
sliding-frame evaluator (`SlidingWindowFunctionFrame`) advances both
frame edges monotonically and buffers exactly one window span of rows,
but it does NOT retract — each frame move re-aggregates the buffer, so
the cost is O(rows x rows-per-window) per signal, with peak task state
one window span.  That is bounded and predictable (rows-per-window =
window_sec x event rate), unlike the unbounded
``(CURRENT ROW, UNBOUNDED FOLLOWING)`` frame this repo replaced in
gapfill (O(partition²)); for very dense signals shrink ``window_sec``
or pre-aggregate to a coarser grain (``rollup_tier``) first.  The
frame bound is computed in integer MICROSECONDS so engines that keep
sub-second precision (this corpus does) agree exactly.

``rolling_zscore`` layers the classic trailing-window anomaly score on
top: z = (x - trailing_mean) / trailing_std, with the current row
INCLUDED in its own window (the one-sided frame every engine can
evaluate incrementally; exclude-current semantics need a second frame
or an arrivals-offset and are deliberately not the default).  Rows with
fewer than ``min_points`` trailing points get NULL z — a degenerate
1-point window would otherwise compare x against itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import micros

__all__ = ["rolling_stats", "rolling_zscore", "rolling_quantile", "max_drawdown", "expanding_zscore"]

_STATS = ("mean", "std", "min", "max", "n")


def _rolling_window(df: DataFrame, key, ts_col: str, window_sec: float):
    if window_sec <= 0:
        raise ValueError("window_sec must be > 0")
    keys = [key] if isinstance(key, str) else list(key)
    span_us = int(round(window_sec * 1_000_000))
    return (
        Window.partitionBy(*keys)
        .orderBy(micros(df, ts_col))
        .rangeBetween(-span_us, 0)
    )


def rolling_stats(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    window_sec: float = 300.0,
    stats: tuple[str, ...] = _STATS,
    prefix: str = "roll_",
) -> DataFrame:
    """Append trailing-window aggregates of ``value_col`` over the last
    ``window_sec`` seconds (inclusive of the current row) per ``key``:
    ``{prefix}mean/std/min/max/n`` for the requested ``stats``.

    ``std`` is the SAMPLE standard deviation and is explicitly NULL for
    single-point windows in both engines (Spark would emit NaN, DuckDB
    NULL — the guard pins one semantic).  Input rows pass through
    unchanged; no rows are dropped or reordered.
    """
    bad = set(stats) - set(_STATS)
    if bad:
        raise ValueError(f"unknown stats {sorted(bad)}; choose from {_STATS}")
    if not stats:
        raise ValueError("stats must name at least one aggregate")
    w = _rolling_window(df, key, ts_col, window_sec)
    v = F.col(value_col)
    n = F.count(v).over(w)
    exprs: dict[str, Column] = {
        "mean": F.avg(v).over(w),
        "std": F.when(n > 1, F.stddev_samp(v).over(w)),
        "min": F.min(v).over(w),
        "max": F.max(v).over(w),
        "n": n.cast("long"),
    }
    out = df
    for s in stats:
        out = out.withColumn(prefix + s, exprs[s])
    return out


def rolling_quantile(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    window_sec: float = 300.0,
    probs: tuple[float, ...] = (0.5, 0.95),
    prefix: str = "roll_",
) -> DataFrame:
    """Append trailing-window EXACT interpolated quantiles of
    ``value_col`` over the last ``window_sec`` seconds per ``key`` —
    the rolling p50/p95/p99 of latency/size monitoring.  Column names
    use the collision-free percent encoding (p50, p95, p99_9).

    Exact (linear-interpolated) quantiles buffer the frame's values —
    bounded by one window span per row, but each frame move re-sorts
    the buffer, so cost is O(rows x window x log window) per signal.
    That is the honest price of EXACT moving quantiles on any engine;
    for very dense signals pre-aggregate to a coarser grain first
    (``rollup_tier``) or use ``percentile_rollup(exact=False)`` on
    tumbling buckets (mergeable sketch, constant memory).  The
    interpolation is identical to DuckDB's ``quantile_cont`` —
    verified bit-for-bit, same as ``percentile_rollup``.
    """
    for p in probs:
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"probs must be in [0, 1], got {p}")
    names = [f"p{p * 100:g}".replace(".", "_").replace("-", "m") for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(f"probs produce duplicate column aliases: {names}")
    w = _rolling_window(df, key, ts_col, window_sec)
    v = F.col(value_col)
    out = df
    for p, name in zip(probs, names):
        out = out.withColumn(
            prefix + name, F.percentile(v, F.lit(float(p))).over(w)
        )
    return out


def rolling_zscore(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    window_sec: float = 300.0,
    min_points: int = 2,
    z_col: str = "zscore",
) -> DataFrame:
    """Trailing-window z-score per row: (value - trailing_mean) /
    trailing_std over the last ``window_sec`` seconds (current row
    included).  NULL when the window holds fewer than ``min_points``
    rows or the trailing std is zero/undefined — never NaN/inf.

    The standard streaming-compatible anomaly primitive: downstreams
    filter ``abs(zscore) > t`` for flagging, and because the frame is
    one-sided trailing it computes identically over a watermarked
    stream replay.
    """
    if min_points < 2:
        raise ValueError("min_points must be >= 2 (a 1-point window "
                         "compares the row against itself)")
    w = _rolling_window(df, key, ts_col, window_sec)
    v = F.col(value_col)
    n = F.count(v).over(w)
    mean = F.avg(v).over(w)
    std = F.stddev_samp(v).over(w)
    z = F.when((n >= min_points) & (std > 0), (v - mean) / std)
    return df.withColumn(z_col, z)


def max_drawdown(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key maximum drawdown — the largest peak-to-trough drop of a
    series in time order: max_t (max_{i<=t} x_i - x_t).  The canonical
    "how far did this metric fall from its best" monitor (finance's
    risk staple, equally the regression detector for throughput/quality
    series in a pipeline dashboard).

    Returns one row per key: (key..., n, peak_value, trough_value,
    trough_ts, max_drawdown) where trough_ts is the EARLIEST time the
    maximum drawdown is attained and peak_value the running maximum at
    that moment.  Keys with a single point report zero drawdown.

    Exactness: the running max is pure comparison, the drawdown a
    single subtraction per row, and the argmax resolves ties by
    (ts, tiebreak) — every output double is produced by one arithmetic
    op on exact operands, so an independent window-SQL replay matches
    bit-for-bit.

    Scale shape: ONE per-key exchange; the running max is a streaming
    unbounded-preceding frame (O(1) state in Spark's running-frame
    evaluator, whole-stage codegen), the per-key max an aggregate over
    the same partitioning (no second shuffle), and the final argmax a
    two-phase min_by.  No Python, no per-key buffering: a key with a
    billion points streams.
    """
    keys = [key] if isinstance(key, str) else list(key)
    tb = [F.col("_k")] if tiebreak_col is not None else []
    staged = df.select(
        *keys,
        F.col(ts_col).alias("_t"),
        F.col(value_col).alias("_v"),
        *([F.col(tiebreak_col).alias("_k")] if tiebreak_col is not None else []),
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t"), *tb)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    staged = (
        staged.withColumn("_peak", F.max("_v").over(w_run))
        .withColumn("_dd", F.col("_peak") - F.col("_v"))
        .withColumn("_maxdd", F.max("_dd").over(w_all))
        .withColumn("_n", F.count("*").over(w_all))
    )
    okey = (
        F.struct(F.col("_t"), F.col("_k"))
        if tiebreak_col is not None
        else F.col("_t")
    )
    at_tr = F.struct(
        F.col("_peak").alias("p"),
        F.col("_v").alias("v"),
        F.col("_t").alias("t"),
    )
    return (
        staged.where(F.col("_dd") == F.col("_maxdd"))
        .groupBy(*keys)
        .agg(
            F.first("_n").cast("long").alias("n"),
            F.min_by(at_tr, okey).alias("_at"),
            F.first("_maxdd").alias("max_drawdown"),
        )
        .select(
            *keys,
            "n",
            F.col("_at.p").alias("peak_value"),
            F.col("_at.v").alias("trough_value"),
            F.col("_at.t").alias("trough_ts"),
            "max_drawdown",
        )
    )


def expanding_zscore(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Append ``exp_mean``, ``exp_std``, ``exp_z`` per row — the
    EXPANDING (lifetime) z-score: each point scored against the full
    history up to and including itself, per key in (ts, tiebreak)
    order.  The batch twin of ``streaming_zscore`` (state = three
    integers), and the unbounded-window complement of
    ``rolling_zscore``'s trailing frame.

    Exactness: values are floor-quantized to the 6-dp grid and the
    running Σv / Σv² accumulate in exact DECIMAL (18,6 operands keep
    the square inside a lossless DECIMAL(37,12)); mean, the ddof=1
    variance and z are then fixed-order float expressions — so the
    streaming twin's integer state reproduces every double
    bit-for-bit, and so does the SQL replay.  Rows with n = 1 or zero
    variance emit NULL z (std is NULL at n = 1).

    Scale shape: ONE keyed Exchange; both running sums are streaming
    (unbounded-preceding) frames over the same sort — O(1) window
    state per row.  No joins, no Python.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    from eristropy_spark.operators.changepoint import _floor_round

    v6 = _floor_round(F.col(value_col).cast("double"), 6)
    vq = v6.cast("decimal(18, 6)")
    base = (
        df.withColumn("_v6", v6)
        .withColumn("_n", F.count("*").over(w))
        .withColumn("_s1", F.sum(vq).over(w))
        .withColumn("_s2", F.sum(vq * vq).over(w))
    )
    n = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    std = F.when(F.col("_n") >= 2, F.sqrt(var))
    z = F.when(
        (F.col("_n") >= 2) & (var > F.lit(0.0)),
        (F.col("_v6") - mean) / F.sqrt(var),
    )
    return (
        base.withColumn("exp_mean", mean)
        .withColumn("exp_std", std)
        .withColumn("exp_z", z)
        .drop("_v6", "_n", "_s1", "_s2")
    )
