"""Per-signal autocorrelation (ACF) over the array row layout — the
classic timeseries diagnostic (lag structure, seasonality detection,
the input to Box–Jenkins model selection), computed entirely in-row:

    acf(k) = sum_i (x_i - mu)(x_{i+k} - mu) / sum_i (x_i - mu)^2

for k = 1..max_lag (the standard biased estimator: one global mean,
denominator over the full series — what statsmodels' ``acf`` and every
textbook compute).

Scale shape: zero shuffle — each signal is one row carrying its value
array (the engine's tokenize layout), and every operator here is one
``mapInArrow`` boundary (``functions.signals.map_signals``) running
numpy dot products over zero-copy views of the Arrow list buffer.
Spark's higher-order functions are evaluated INTERPRETED per element
(not codegen), so a pure-expression ACF (``zip_with`` + ``aggregate``
per lag) pays ~10⁷ boxed lambda calls for work that is a handful of
vectorized dots; measured ~20x slower at sf0.1.

Degenerate series pin: signals with fewer than 2 points emit no lag
rows; constant series emit rows with NULL acf (0/0, same as the DuckDB
oracle under the session's non-ANSI division).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.signals import map_signals

__all__ = ["acf_long", "ar2_forecast", "ljung_box", "ess", "pacf_points", "bartels_rank"]


def _r6(v: float) -> float:
    """The engine's 6-dp grid: floor(v * 1e6 + 0.5) / 1e6."""
    return math.floor(v * 1000000.0 + 0.5) / 1000000.0


def acf_long(
    df: DataFrame,
    array_col: str = "tokens",
    max_lag: int = 10,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(``*keep_cols``, lag, acf) — one row per signal per lag in
    [1, min(max_lag, n-1)]."""
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")

    def _lags(v):
        if v is None or v.size < 2:
            return []
        x = np.asarray(v, dtype=np.float64)
        d = x - x.mean()
        den = float(d @ d)
        m = min(max_lag, x.size - 1)
        return [
            (k, float(d[: x.size - k] @ d[k:]) / den if den != 0.0 else None)
            for k in range(1, m + 1)
        ]

    return map_signals(
        df, keep_cols, array_col, "lag int, acf double", _lags, explode=True
    )


def ar2_forecast(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Per-signal AR(2) fit via the Yule–Walker equations + one-step
    forecast — the Box–Jenkins closed form on top of the same biased
    autocorrelations ``acf_long`` computes:

        phi1 = r1*(1 - r2) / (1 - r1²)
        phi2 = (r2 - r1²)  / (1 - r1²)
        x̂_{n+1} = mu + phi1*(x_n - mu) + phi2*(x_{n-1} - mu)

    Emits (``*keep_cols``, n, r1, r2, phi1, phi2, forecast), one row
    per signal.  r1/r2 are quantized to the engine's 6-dp grid
    (floor(x*1e6+0.5)/1e6) BEFORE the closed forms: the raw
    autocovariance sums are float reductions whose summation order is
    engine-specific, and the (1 - r1²) denominator would amplify those
    last-ulp differences past any rounding — quantizing the
    correlations first makes every downstream double bit-reproducible
    by an independent SQL replay (the repo's quantize-then-derive
    rule; cf. the decimal-grid CUSUM).  mu itself is exact: the token
    values are integers, so sum/n is a single deterministic division.

    Guards: n < 3 or a zero-variance series emit NULL fit columns;
    |r1| = 1 (degenerate denominator) emits NULL phi/forecast.  Zero
    shuffle — one ``mapInArrow`` boundary over the array layout.
    """
    def _fit(v):
        n = 0 if v is None else int(v.size)
        if n < 3:
            return n, None, None, None, None, None
        x = np.asarray(v, dtype=np.float64)
        mu = float(x.sum()) / n
        d = x - mu
        den = float(d @ d)
        if den == 0.0:
            return n, None, None, None, None, None
        r1 = _r6(float(d[:-1] @ d[1:]) / den)
        r2 = _r6(float(d[:-2] @ d[2:]) / den)
        denom = 1.0 - r1 * r1
        if denom == 0.0:
            return n, r1, r2, None, None, None
        phi1 = r1 * (1.0 - r2) / denom
        phi2 = (r2 - r1 * r1) / denom
        return n, r1, r2, phi1, phi2, (
            mu + phi1 * (float(x[-1]) - mu) + phi2 * (float(x[-2]) - mu)
        )

    fields = "n int, r1 double, r2 double, phi1 double, phi2 double, forecast double"
    return map_signals(df, keep_cols, array_col, fields, _fit)


def ljung_box(
    df: DataFrame,
    array_col: str = "tokens",
    max_lag: int = 10,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Ljung–Box portmanteau white-noise test per signal (Ljung & Box
    1978, Biometrika 65) on the same biased autocorrelations
    ``acf_long`` computes:

        Q = n (n+2) Σ_{k=1..h} ρ_k² / (n−k),    h = max_lag

    with the χ²(h) survival probability.  ``max_lag`` must be EVEN:
    for even degrees of freedom the χ² tail has the elementary closed
    form  P(χ²_{2m} > Q) = exp(−Q/2) Σ_{j<m} (Q/2)^j / j!  — no
    incomplete-gamma special function, so an independent SQL engine
    replays the p-value bit-for-bit (the same trick as Pettitt's
    single exp()).

    Determinism protocol (quantize-then-derive): each ρ_k is quantized
    to the 6-dp grid first (the raw autocovariances are float
    reductions whose summation order is engine-specific — the ar2 rule),
    then each term n(n+2)·ρ6_k²/(n−k) is floor-quantized to the 12-dp
    grid and accumulated as an EXACT integer; Q is the one float
    division at the end, and p is elementary arithmetic on Q — every
    output double is bit-reproducible by the SQL replay.

    Emits (``*keep_cols``, n, h, q_stat, p_value); signals with
    n < max_lag + 2 or zero variance emit NULL statistics.  Zero
    shuffle — one ``mapInArrow`` boundary over the array layout,
    O(n·h) per signal.
    """
    if max_lag < 2 or max_lag % 2 != 0:
        raise ValueError(f"max_lag must be even and >= 2, got {max_lag}")
    h = int(max_lag)
    m = h // 2
    fact = [math.factorial(j) for j in range(m)]

    def _test(v):
        n = 0 if v is None else int(v.size)
        if n < h + 2:
            return n, h, None, None
        x = np.asarray(v, dtype=np.float64)
        d = x - x.mean()
        den = float(d @ d)
        if den == 0.0:
            return n, h, None, None
        nn2 = float(n * (n + 2))
        s_int = 0  # Σ of 12-dp-quantized terms, exact integer
        for k in range(1, h + 1):
            rho6 = _r6(float(d[: n - k] @ d[k:]) / den)
            s_int += math.floor(
                (nn2 * rho6 * rho6 / float(n - k)) * 1e12 + 0.5
            )
        q = float(s_int) / 1e12
        hh = q / 2.0
        poly = 0.0
        tj = 1.0
        for j in range(m):
            if j > 0:
                tj = tj * hh
            poly = poly + tj / float(fact[j])
        return n, h, q, min(1.0, math.exp(-hh) * poly)

    fields = "n int, h int, q_stat double, p_value double"
    return map_signals(df, keep_cols, array_col, fields, _test)


def ess(
    df: DataFrame,
    array_col: str = "tokens",
    max_lag: int = 10,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, n, n_lags_used, tau, ess) — effective sample size
    per signal via the integrated autocorrelation time

        τ = 1 + 2 Σ_{k=1}^{K−1} ρ_k,    ESS = n / τ

    with the initial-positive-sequence truncation: K = the first lag
    whose autocorrelation is ≤ 0 on the engine's 6-dp grid (or
    max_lag+1 if none) — the MCMC-diagnostics convention (Geyer 1992,
    Stat. Sci. 7, simplified to the single-ρ rule).  The answer to
    "how many independent samples does this correlated signal carry?"
    — the statistically honest sequence count for any downstream
    averaging over entropy points.

    Exactness: ρ_k comes from ``acf_long`` and is quantized to 1e-6
    integer UNITS before the truncation test and the sum, so both are
    exact integer operations and τ/ESS are ONE fixed float expression.
    Signals with n < 2 (no lags) get τ = 1, ESS = n.

    Scale shape: acf_long's ONE Arrow boundary, a per-key window +
    aggregate on the lag rows (≤ max_lag per signal), one key-join
    back to the per-signal length.
    """
    a = acf_long(df, array_col=array_col, max_lag=max_lag, keep_cols=keep_cols)
    li = F.floor(F.col("acf") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    per = a.select(*keep_cols, "lag", li.alias("_li"))
    w = Window.partitionBy(*keep_cols)
    staged = per.withColumn(
        "_k0",
        F.coalesce(
            F.min(F.when(F.col("_li") <= 0, F.col("lag"))).over(w),
            F.lit(max_lag + 1),
        ),
    )
    summed = staged.groupBy(*keep_cols).agg(
        F.sum(
            F.when(F.col("lag") < F.col("_k0"), F.col("_li")).otherwise(0)
        ).cast("long").alias("_su"),
        F.sum(
            F.when(F.col("lag") < F.col("_k0"), 1).otherwise(0)
        ).cast("int").alias("n_lags_used"),
    )
    nsrc = df.select(*keep_cols, F.size(F.col(array_col)).alias("n"))
    joined = nsrc.join(summed, list(keep_cols), "left")
    su = F.coalesce(F.col("_su"), F.lit(0)).cast("double")
    tau = F.lit(1.0) + F.lit(2.0) * (su / F.lit(1000000.0))
    return joined.select(
        *keep_cols,
        "n",
        F.coalesce("n_lags_used", F.lit(0)).alias("n_lags_used"),
        tau.alias("tau"),
        (F.col("n").cast("double") / tau).alias("ess"),
    )


def pacf_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Per-signal partial autocorrelations at lags 1..3 via the
    Durbin–Levinson recursion unrolled (Durbin 1960; Box–Jenkins'
    identification tool: the PACF cutoff says WHICH AR order fits,
    where the ACF only says "autocorrelated"):

        pacf1 = r1
        pacf2 = (r2 - r1²) / (1 - r1²)
        phi21 = r1 - pacf2*r1
        pacf3 = (r3 - (phi21*r2 + pacf2*r1))
                / (1 - (phi21*r1 + pacf2*r2))

    Emits (``*keep_cols``, n, r1, r2, r3, pacf1, pacf2, pacf3), one
    row per signal.  Same exactness contract as :func:`ar2_forecast`:
    the biased autocorrelations are quantized to the 6-dp grid BEFORE
    the closed forms (quantize-then-derive — the 1-r1² style
    denominators would amplify sum-order ulps), so every downstream
    double is bit-reproducible by the SQL replay.  Guards: n < 4 or a
    zero-variance series emit NULL columns; degenerate denominators
    (|r1| = 1, or a singular lag-2 system) emit NULL pacf2/pacf3.
    Zero shuffle — one ``mapInArrow`` boundary over the array layout.
    """
    def _pacf(v):
        n = 0 if v is None else int(v.size)
        if n < 4:
            return (n,) + (None,) * 6
        x = np.asarray(v, dtype=np.float64)
        mu = float(x.sum()) / n
        d = x - mu
        den = float(d @ d)
        if den == 0.0:
            return (n,) + (None,) * 6
        r1 = _r6(float(d[:-1] @ d[1:]) / den)
        r2 = _r6(float(d[:-2] @ d[2:]) / den)
        r3 = _r6(float(d[:-3] @ d[3:]) / den)
        den2 = 1.0 - r1 * r1
        if den2 == 0.0:
            return n, r1, r2, r3, r1, None, None
        pacf2 = (r2 - r1 * r1) / den2
        phi21 = r1 - pacf2 * r1
        den3 = 1.0 - (phi21 * r1 + pacf2 * r2)
        if den3 == 0.0:
            return n, r1, r2, r3, r1, pacf2, None
        return n, r1, r2, r3, r1, pacf2, (r3 - (phi21 * r2 + pacf2 * r1)) / den3

    fields = (
        "n int, r1 double, r2 double, r3 double, "
        "pacf1 double, pacf2 double, pacf3 double"
    )
    return map_signals(df, keep_cols, array_col, fields, _pacf)


def bartels_rank(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    min_n: int = 10,
) -> DataFrame:
    """Bartels rank von Neumann ratio test per signal (Bartels 1982,
    JASA 77): the RANK version of von Neumann's successive-difference
    ratio —

        RVN = Σ_i (R_i − R_{i+1})² / Σ_i (R_i − R̄)²

    over the midranks R of the series in TIME order.  RVN ≈ 2 under
    i.i.d. randomness, < 2 for trending/positively-autocorrelated
    series, > 2 for oscillating ones — the distribution-free
    complement of ``ljung_box`` (which needs moments) and the
    serial-dependence upgrade of ``runs_test`` (which only sees the
    median split).  The standard pre-test before trusting an entropy
    estimate on a supposedly-noise sequence.

    Exactness protocol: midranks double to exact integers
    (2R̄ = n+1 exactly), so the QUADRUPLED numerator
    Σ(2R_i − 2R_{i+1})² and denominator Σ(2R_i − (n+1))² are exact
    int64 sums (bounded by 4n³ — exact to n ≈ 10⁵ per signal, the
    array-layout task bound) and RVN is ONE int/int float division;
    z = (RVN − 2)/√Var with Bartels' asymptotic
    Var = 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²) (exact under no ties;
    with ties the variance is conservative — documented, standard
    practice).  Bit-identical in the DuckDB replay.

    Scale shape: ONE ``mapInArrow`` boundary over the array layout
    (numpy argsort midranks per row), zero shuffle beyond tokenize's
    own.  Signals with n < ``min_n`` or all values tied emit NULL
    statistics.

    Returns (*keep_cols, n, num4, den4, rvn, z).
    """
    mn = int(min_n)

    def _test(v):
        n = 0 if v is None else int(v.size)
        if n < mn:
            return n, None, None, None, None
        x = np.asarray(v)
        # doubled midranks: 2R = 2*(#less) + (#equal) + 1,
        # vectorized via the sorted-insertion positions
        sx = np.sort(x, kind="mergesort")
        lt = np.searchsorted(sx, x, side="left").astype(np.int64)
        le = np.searchsorted(sx, x, side="right").astype(np.int64)
        r2 = lt + le + 1  # = 2*lt + (le - lt) + 1
        d = np.diff(r2)
        num4 = int(d @ d)
        c = r2 - np.int64(n + 1)
        den4 = int(c @ c)
        if den4 == 0:
            return n, num4, den4, None, None
        rvn = float(num4) / float(den4)
        nd = float(n)
        var = (
            4.0
            * (nd - 2.0)
            * (5.0 * nd * nd - 2.0 * nd - 9.0)
            / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))
        )
        return n, num4, den4, rvn, (rvn - 2.0) / math.sqrt(var)

    fields = "n int, num4 bigint, den4 bigint, rvn double, z double"
    return map_signals(df, keep_cols, array_col, fields, _test)
