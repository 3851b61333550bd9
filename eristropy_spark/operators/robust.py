"""Theil–Sen robust trend estimation over the array row layout — the
median-of-pairwise-slopes line fit (Theil 1950, Sen 1968): immune to
up to ~29% outliers where least squares (detrend_linreg) is wrecked by
one bad point.  The standard robust drift detector for sensor series.

For a signal x_0..x_{n-1} on the regular index grid:

    slope     = median over all i<j of (x_j - x_i) / (j - i)
    intercept = median over all i   of  x_i - slope * i

(Sen's slope + the classical robust intercept.)  Medians are the
interpolated continuous quantile — the SAME lerp form Spark's
``percentile`` and DuckDB's ``quantile_cont`` evaluate
(lo + (hi - lo) * frac), so an independent SQL replay reproduces the
doubles bit-for-bit (numpy's ``median`` computes (a+b)/2 instead,
which differs in the last ulp — deliberately not used).

Scale shape: zero shuffle — each signal is one row carrying its value
array (the engine's tokenize layout), and the O(n²) pair enumeration
runs as vectorized numpy inside ONE ``mapInArrow`` boundary over
zero-copy list views.  The quadratic cost is inherent to Theil–Sen;
``max_points`` fail-louds a series whose pair matrix would blow task
memory (pre-aggregate long signals to a coarser grain first, or use
``detrend_linreg`` which is O(n)).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals

__all__ = [
    "theilsen_trend",
    "mann_kendall",
    "robust_scale",
    "seasonal_mann_kendall",
    "hampel_filter",
]


def _qcont(sorted_vals, p: float):
    """Interpolated continuous quantile of a pre-sorted 1-D array,
    evaluated exactly as Spark's ``percentile`` / DuckDB's
    ``quantile_cont`` do: h = (n-1)p; lo + (hi - lo) * frac."""
    n = sorted_vals.shape[0]
    h = (n - 1) * p
    lo = int(h)
    frac = h - lo
    v = float(sorted_vals[lo])
    if frac > 0.0:
        v = v + (float(sorted_vals[lo + 1]) - v) * frac
    return v


def theilsen_trend(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    max_points: int = 2048,
) -> DataFrame:
    """(``*keep_cols``, n, slope, intercept) — one row per signal.
    Signals with fewer than 2 points emit NULL slope/intercept (a
    single point determines no line)."""
    import numpy as np

    if max_points < 2:
        raise ValueError("max_points must be >= 2")

    def _trend(v):
        n = 0 if v is None else int(v.size)
        if n < 2:
            return n, None, None
        if n > max_points:
            raise ValueError(
                f"theilsen_trend: signal has {n} points > "
                f"max_points={max_points}; the O(n²) pair matrix "
                "would blow task memory — pre-aggregate to a "
                "coarser grain or raise max_points explicitly"
            )
        x = np.asarray(v, dtype=np.float64)
        i, j = np.triu_indices(n, k=1)
        pair_slopes = (x[j] - x[i]) / (j - i).astype(np.float64)
        pair_slopes.sort(kind="stable")
        slope = _qcont(pair_slopes, 0.5)
        resid = x - slope * np.arange(n, dtype=np.float64)
        resid.sort(kind="stable")
        return n, slope, _qcont(resid, 0.5)

    fields = "n int, slope double, intercept double"
    return map_signals(df, keep_cols, array_col, fields, _trend)


def mann_kendall(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    max_points: int = 4096,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per signal (Mann 1945,
    Kendall 1975) — the standard non-parametric companion to the
    Theil–Sen slope: does this series trend at all, before asking how
    steeply?  Distribution-free, tie-aware, and the hypothesis test the
    WMO recommends for hydrological/climate drift — here, the detector
    for "is this source's token statistics drifting over ingest time".

    Per signal x_0..x_{n-1}:

        S     = sum over i<j of sign(x_j - x_i)
        var_S = [n(n-1)(2n+5) - sum_g t_g(t_g-1)(2t_g+5)] / 18
                (t_g = size of each tied-value group)
        z     = (S-1)/sqrt(var_S) if S>0, 0 if S=0, (S+1)/sqrt(var_S)
        tau   = S / (n(n-1)/2)           (Kendall's tau-a)

    S and the tie term are exact integers; the only float ops are the
    two final divisions and one sqrt, evaluated in the same order as
    the SQL replay, so an independent engine reproduces every double
    bit-for-bit.  Signals with n < 2 emit NULL stats; a degenerate
    all-tied signal (var_S = 0) emits NULL z.

    Scale shape: zero shuffle — one row per signal carrying its value
    array (the tokenize layout), the O(n²) sign comparison vectorized
    inside ONE ``mapInArrow`` boundary over zero-copy list views.
    ``max_points`` fail-louds a series whose pair matrix would blow
    task memory (the n² is inherent to the exact statistic; pre-bucket
    longer series, or note S is computable in O(n log n) via inversion
    counting if an exact long-series variant is ever needed).
    """
    import numpy as np

    if max_points < 2:
        raise ValueError("max_points must be >= 2")

    def _test(v):
        n = 0 if v is None else int(v.size)
        if n < 2:
            return n, None, None, None, None
        if n > max_points:
            raise ValueError(
                f"mann_kendall: signal has {n} points > "
                f"max_points={max_points}; the O(n²) sign matrix "
                "would blow task memory — pre-aggregate to a "
                "coarser grain or raise max_points explicitly"
            )
        x = np.asarray(v)
        i, j = np.triu_indices(n, k=1)
        s = int(np.sign(x[j].astype(np.int64) - x[i].astype(np.int64)).sum())
        _, counts = np.unique(x, return_counts=True)
        t = counts.astype(np.int64)
        tie_term = int((t * (t - 1) * (2 * t + 5)).sum())
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        if s > 0:
            z = (s - 1) / np.sqrt(var_s) if var_s > 0.0 else None
        elif s < 0:
            z = (s + 1) / np.sqrt(var_s) if var_s > 0.0 else None
        else:
            z = 0.0 if var_s > 0.0 else None
        z = float(z) if z is not None else None
        return n, s, var_s, z, s / (n * (n - 1) / 2.0)

    fields = "n int, s bigint, var_s double, z double, tau double"
    return map_signals(df, keep_cols, array_col, fields, _test)


def robust_scale(
    df: DataFrame,
    key,
    value_col: str = "value",
    c: float = 3.0,
) -> DataFrame:
    """(*key, n, med, mad, sigma_mad, n_outliers) — robust
    location/scale per key: exact interpolated median, MAD
    (median absolute deviation), the consistency-scaled robust sigma
    1.4826·MAD (the normal-consistency constant, Hampel 1974 /
    Rousseeuw & Croux 1993), and the count of points whose deviation
    exceeds ``c``·sigma — the outlier census mean/std monitoring gets
    wrong the moment one spike inflates the std it thresholds with.

    Both medians use Spark's exact interpolated ``percentile``
    (bit-identical to DuckDB's ``quantile_cont``, the
    percentile_rollup precedent), so the SQL replay reproduces every
    double bit-for-bit; sigma and the threshold comparison are fixed
    float expressions.  A constant key yields mad = 0 and 0 outliers.

    Scale shape: ONE keyed Exchange total — two unbounded window
    aggregates over the same key partitioning (median of v, then
    median of |v − med|) followed by a groupBy on that key (no
    re-shuffle).  The exact windows buffer one key's points per task
    (the documented exact-percentile bound); for unbounded keys the
    approx_percentile sketch is the 100 TB path, as in
    percentile_rollup.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not c > 0.0:
        raise ValueError(f"c must be > 0, got {c}")
    keys = [key] if isinstance(key, str) else list(key)
    w_key = Window.partitionBy(*keys)

    v = F.col(value_col).cast("double")
    pts = df.select(*keys, v.alias("_v")).withColumn(
        "_med", F.percentile(F.col("_v"), F.lit(0.5)).over(w_key)
    )
    dev = pts.withColumn("_dev", F.abs(F.col("_v") - F.col("_med"))).withColumn(
        "_mad", F.percentile(F.col("_dev"), F.lit(0.5)).over(w_key)
    )
    sigma = F.lit(1.4826) * F.col("_mad")
    out = dev.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n"),
        F.max("_med").alias("med"),
        F.max("_mad").alias("mad"),
        F.sum(
            F.when(F.col("_dev") > F.lit(float(c)) * sigma, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    )
    return out.select(
        *keys,
        "n",
        "med",
        "mad",
        (F.lit(1.4826) * F.col("mad")).alias("sigma_mad"),
        "n_outliers",
    )


def seasonal_mann_kendall(
    df: DataFrame,
    period: int,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    max_points: int = 4096,
) -> DataFrame:
    """Seasonal Mann–Kendall trend test per signal (Hirsch & Slack
    1984, Water Resour. Res. 20:727) — the MK variant that is not
    fooled by seasonality: the plain test reads a stable annual cycle
    as "trend", the seasonal form compares each phase only with ITSELF
    across cycles (January with January), then pools:

        S     = Σ_g S_g          (S_g = MK statistic within phase g)
        var_S = [Σ_g (n_g(n_g−1)(2n_g+5) − tie_g)] / 18
        z     = (S∓1)/sqrt(var_S)  (continuity-corrected, as in MK)

    the independent-seasons form (the serial-covariance correction of
    the paper's §4 is for autocorrelated residuals; documented out of
    scope).  Emits (``*keep_cols``, n, period, s, var_s, z).

    S, every tie term, and var_S's numerator are exact integers — the
    /18.0 and the z expression are the only float ops, in the same
    order as the SQL replay.  Signals with fewer than 2 points in
    every phase emit NULL stats.  ``max_points`` fail-louds the O(n²)
    per-phase pair matrix like :func:`mann_kendall`.
    """
    import numpy as np

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if max_points < 2:
        raise ValueError("max_points must be >= 2")

    def _test(v):
        n = 0 if v is None else int(v.size)
        if n > max_points:
            raise ValueError(
                f"seasonal_mann_kendall: signal has {n} points > "
                f"max_points={max_points} — pre-aggregate or raise "
                "max_points explicitly"
            )
        x = np.asarray(v) if n else np.empty(0, dtype=np.int64)
        s = 0
        var_num = 0
        any_pairs = False
        for g in range(period):
            xg = x[g::period]
            ng = int(xg.size)
            if ng < 2:
                continue
            any_pairs = True
            i, j = np.triu_indices(ng, k=1)
            s += int(
                np.sign(
                    xg[j].astype(np.int64) - xg[i].astype(np.int64)
                ).sum()
            )
            _, counts = np.unique(xg, return_counts=True)
            t = counts.astype(np.int64)
            tie = int((t * (t - 1) * (2 * t + 5)).sum())
            var_num += ng * (ng - 1) * (2 * ng + 5) - tie
        if not any_pairs:
            return n, period, None, None, None
        var_s = var_num / 18.0
        if var_s > 0.0:
            if s > 0:
                z = (s - 1) / math.sqrt(var_s)
            elif s < 0:
                z = (s + 1) / math.sqrt(var_s)
            else:
                z = 0.0
        else:
            z = None
        return n, period, s, var_s, z

    fields = "n int, period int, s bigint, var_s double, z double"
    return map_signals(df, keep_cols, array_col, fields, _test)


def hampel_filter(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    half_width: int = 5,
    k: float = 3.0,
) -> DataFrame:
    """(``*keep_cols``, i, x, med, mad, is_outlier, cleaned) — the
    Hampel rolling outlier filter per point (Hampel 1974; Pearson 2005
    "Mining Imperfect Data" §4 — the de-facto standard despiking step
    before any recursion-sensitive statistic): over the CENTERED
    truncated window x[i−w .. i+w],

        med_i = median(window),  mad_i = median(|window − med_i|),
        outlier ⇔ |x_i − med_i| > k·1.4826·mad_i,
        cleaned = med_i if outlier else x_i

    — the rolling companion of the global ``robust_scale`` census (a
    level shift moves the rolling median WITH the signal, so genuine
    regime changes survive while isolated spikes are replaced).

    Exactness: integer tokens make every window median exact on the
    0.5 grid and every MAD exact on the 0.25 grid (both via the
    interpolated ``_qcont`` form, bit-identical to DuckDB's
    ``quantile_cont``); |x − med| is exact, and the threshold is ONE
    fixed float expression (k·1.4826 pre-folded, then ·mad) written in
    the same shape in the SQL replay.  mad = 0 (constant window)
    flags any point off the median — the documented classical
    degeneracy.

    Scale shape: zero extra shuffle — one ``mapInArrow`` boundary over
    the array row layout, O(n·w log w) per signal; output is long-form
    (one row per point), the shape downstream cleaners consume.
    """
    import numpy as np

    if not 1 <= half_width <= 10_000:
        raise ValueError(f"half_width must be in 1..10000, got {half_width}")
    if not k > 0.0:
        raise ValueError(f"k must be > 0, got {k}")
    w = int(half_width)
    k148 = float(k) * 1.4826

    def _points(v):
        if v is None or v.size == 0:
            return []
        xs = np.asarray(v, dtype=np.float64)
        n = xs.size
        rows = []
        for i in range(n):
            lo, hi = max(0, i - w), min(n, i + w + 1)
            win = np.sort(xs[lo:hi])
            med = _qcont(win, 0.5)
            devs = np.sort(np.abs(xs[lo:hi] - med))
            mad = _qcont(devs, 0.5)
            dev_i = abs(float(xs[i]) - med)
            out = dev_i > k148 * mad
            rows.append(
                (i, int(v[i]), med, mad, bool(out), med if out else float(xs[i]))
            )
        return rows

    fields = (
        "i int, x bigint, med double, mad double, is_outlier boolean, "
        "cleaned double"
    )
    return map_signals(df, keep_cols, array_col, fields, _points, explode=True)
