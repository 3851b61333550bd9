"""CUSUM change-point detection — Page's cumulative-sum control chart
(Page 1954, Biometrika; the tabular two-sided form in every SPC text,
e.g. NIST/SEMATECH e-Handbook §6.3.2.3): per key in time order, the
upper and lower CUSUM statistics

    s+_t = max(0, s+_{t-1} + (x_t - target - k))
    s-_t = max(0, s-_{t-1} + (target - x_t - k))

with allowance ``k`` (half the shift worth detecting, in value units)
and decision threshold ``h``; a point alarms when either statistic
exceeds ``h``.  This is the NON-resetting chart: the statistic keeps
accumulating after an alarm (flagging the whole excursion), which is
the form whose recursion factors into pure prefix arithmetic.

Scale shape: the max(0, ...) recursion looks sequential but is exactly

    s_t = P_t - min(0, min_{j<=t} P_j),    P_t = sum_{i<=t} y_i

(the running-minimum reflection of the prefix sum), so the whole chart
is a handful of streaming window frames — running sums and running
mins — over ONE per-key shuffle, all whole-stage codegen, O(1) state
per key in Spark's running-frame evaluator.  No Python, no per-key
arrays; a key with a billion points streams.  The reference engine has
no change-point operator; this is engine capability for the monitoring
tier (same family as counter_rate / rolling_zscore).

``exact_decimals`` (default 6) quantizes inputs to that decimal grid
(the engine-portable floor-round) and runs every ACCUMULATION in
DECIMAL — long float prefix sums are otherwise association-order-
dependent, so the same chart evaluated by a different engine (or a
re-partitioned retry) can flip a rounding digit near alarm thresholds;
decimal accumulation makes the statistic bit-reproducible everywhere.
Pass ``None`` for raw double arithmetic (fastest, non-portable tails).

``target=None`` (default) centers each key on its own full-series mean
via an unbounded window over the same partitioning (no extra shuffle);
pass a float to monitor against a known process target instead — the
streaming-friendly form, since the per-key mean needs the whole series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["binseg_changepoints", "cusum_changepoints", "page_hinkley", "pettitt"]


def _floor_round(c: Column, d: int) -> Column:
    """floor(x*10^d + 0.5)/10^d — the engine-portable fixed-grid round
    (same family as functions/numeric.round6, generalized scale)."""
    s = F.lit(float(10**d))
    return F.floor(c * s + F.lit(0.5)) / s


def cusum_changepoints(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    k: float = 0.5,
    h: float = 5.0,
    target: float | None = None,
    exact_decimals: int | None = 6,
) -> DataFrame:
    """Append ``cusum_pos``, ``cusum_neg`` and the boolean ``alarm``
    per row of ``df``, per ``key`` ordered by (``ts_col``,
    ``tiebreak_col``).

    ``k`` and ``h`` are in the same units as ``value_col`` (the
    classic parameterization uses k = delta/2 and h ~ 4-5 sigma; scale
    them by the series sigma upstream, or z-norm first).  With
    ``exact_decimals=d``, ``k`` (and ``target`` if given) must be
    exactly representable at d decimals.  Rows pass through unchanged;
    no rows are dropped.
    """
    if k < 0:
        raise ValueError(f"allowance k must be >= 0, got {k}")
    if h <= 0:
        raise ValueError(f"threshold h must be > 0, got {h}")
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    v = F.col(value_col).cast("double")
    if exact_decimals is not None:
        d = int(exact_decimals)
        if not 0 < d <= 12:
            raise ValueError(f"exact_decimals must be in 1..12, got {d}")
        for name, val in (("k", k), ("target", target)):
            if val is not None and round(val, d) != val:
                raise ValueError(
                    f"{name}={val} is not exact at {d} decimals; "
                    "quantize it or pass exact_decimals=None"
                )
        # quantize, then accumulate in DECIMAL: sums of fixed-grid
        # decimals are EXACT, so the statistic is identical under any
        # summation order (engines, partitionings, retries).  20+d
        # digits of precision leaves >= 10^14 units of headroom above
        # any realistic per-key magnitude; Spark widens window sums to
        # precision+10 internally.
        dec = f"decimal({20 + d}, {d})"
        v = _floor_round(v, d).cast(dec)
        if target is None:
            # full-series mean over the SAME partitioning (no extra
            # shuffle), floor-rounded onto the grid so mu itself is one
            # engine-portable decimal
            mu = _floor_round(
                F.avg(v.cast("double")).over(Window.partitionBy(*keys)), d
            ).cast(dec)
        else:
            mu = F.lit(float(target)).cast(dec)
        k_lit = F.lit(float(k)).cast(dec)
        zero = F.lit(0).cast(dec)
    else:
        if target is None:
            mu = F.avg(v).over(Window.partitionBy(*keys))
        else:
            mu = F.lit(float(target))
        k_lit = F.lit(float(k))
        zero = F.lit(0.0)

    # stage 1: prefix sums (windows can't nest in one projection);
    # stage 2: running min of each prefix sum; stage 3: the reflection
    # s_t = P_t - min(0, min_{j<=t} P_j).  All three are streaming
    # frames over the same window spec — one Exchange, one sort.
    out = df.withColumn(
        "_p_pos", F.sum(v - mu - k_lit).over(w)
    ).withColumn("_p_neg", F.sum(mu - v - k_lit).over(w))
    out = out.withColumn(
        "cusum_pos",
        (F.col("_p_pos") - F.least(zero, F.min("_p_pos").over(w)))
        .cast("double"),
    ).withColumn(
        "cusum_neg",
        (F.col("_p_neg") - F.least(zero, F.min("_p_neg").over(w)))
        .cast("double"),
    )
    return out.drop("_p_pos", "_p_neg").withColumn(
        "alarm",
        (F.col("cusum_pos") > F.lit(float(h)))
        | (F.col("cusum_neg") > F.lit(float(h))),
    )


def pettitt(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Pettitt single change-point test per signal (Pettitt 1979,
    Applied Statistics 28) — the rank-based (distribution-free) test
    for an abrupt level shift at an unknown time: the non-parametric
    partner to CUSUM (which needs a target/allowance in value units).
    Standard in hydrology/climate homogeneity screening; here, "did
    this source's token statistics jump somewhere mid-ingest, and
    when?".

    For x_1..x_n define U_t = Σ_{i<=t} Σ_{j>t} sign(x_i - x_j).
    The test statistic is K = max_{1<=t<n} |U_t| with changepoint
    estimate t* = argmax (earliest on ties), and the classic
    approximate significance p ≈ min(1, 2·exp(-6K²/(n³+n²))).

    U_t is computed exactly in integers via the prefix identity

        U_t = Σ_{i<=t} s_i,   s_i = Σ_j sign(x_i - x_j)
                                 = 2·(#less than x_i) - n + (#tied with x_i)

    so K, t*, and U_{t*} are exact (no float accumulation anywhere);
    the single exp() in the p-value is the only float op, giving an
    independent SQL replay bit-identical doubles.

    Returns (*keep_cols, n, k_stat, t_star, u_at_t, p_approx); signals
    with n < 2 emit NULL statistics.  t_star is 1-based: the shift is
    between positions t_star and t_star+1.

    Scale shape: zero shuffle — one row per signal (the tokenize array
    layout), O(n log n) per signal (one sort for the rank census)
    inside ONE ``mapInArrow`` boundary over zero-copy list views.
    """
    import math

    import numpy as np

    from eristropy_spark.functions.signals import map_signals

    def _test(v):
        n = 0 if v is None else int(v.size)
        if n < 2:
            return n, None, None, None, None
        x = np.asarray(v)
        uniq, inv, counts = np.unique(
            x, return_inverse=True, return_counts=True
        )
        counts = counts.astype(np.int64)
        cum_less = np.concatenate(([0], np.cumsum(counts)[:-1]))
        s = 2 * cum_less[inv] - n + counts[inv]
        u = np.cumsum(s)[:-1]  # t = 1..n-1
        absu = np.abs(u)
        t0 = int(np.argmax(absu))  # earliest max (argmax rule)
        k = int(absu[t0])
        # math.exp, not np.exp: the scalar libm call is what the
        # SQL replay's exp() evaluates; numpy's vectorized exp can
        # differ in the last ulp
        p = min(
            1.0,
            2.0 * math.exp(-6.0 * (k * k) / (n**3 + float(n * n))),
        )
        return n, k, t0 + 1, int(u[t0]), p

    fields = "n int, k_stat bigint, t_star int, u_at_t bigint, p_approx double"
    return map_signals(df, keep_cols, array_col, fields, _test)


def binseg_changepoints(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Binary-segmentation multiple change-point detection, depth 2
    (Scott & Knott 1974; the top of every binseg/PELT implementation,
    e.g. Killick et al. 2012 §2.2) — least-squares mean-shift cost.

    For a segment the best split maximizes the variance-reduction gain

        G(k) = SSE(seg) - SSE(left) - SSE(right)
             = S_k^2/k + (S_seg - S_k)^2/(len-k) - S_seg^2/len

    (prefix-sum identity: the sum-of-squares terms cancel), so the
    whole search is prefix sums + an argmax — no per-cell dp.  Depth 2
    unrolled: the best global split k1, then the best split inside
    each half.  One row per key:

        (n, k1, gain1, k2_left, gain_left, k2_right, gain_right)

    k's are 1-based last-index-of-left-segment positions; gains are in
    value^2 units, NULL when the (sub)segment is too short (< 2) or
    the series is degenerate.  Ties in gain break to the SMALLEST k.

    Exactness contract: feed integer-valued series (quantize first —
    the repo convention); prefix sums and the gain numerator
    a(k) = S_k^2*(len-k) + (S_seg-S_k)^2*k are then EXACT DECIMAL(38,0)
    ints, and each compared statistic is ONE fixed float expression
    a/(k*(len-k)) — bit-identical across engines, so the argmax (and
    therefore every output) replays exactly in SQL.

    Scale shape: pure whole-stage codegen on ONE key Exchange — prefix
    frames, full-partition reduces, and three in-partition sorts (the
    rank-by-gain argmaxes); no joins, no Python.  Depth is a static
    constant, so the plan does not grow with data; a key with a
    billion points streams through every stage.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    prefix = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wfull = Window.partitionBy(*keys)

    dec = "decimal(38,0)"
    q = F.col(value_col).cast("long")
    pts = df.select(
        *keys,
        F.sum(q).over(prefix).cast(dec).alias("_S"),
        F.row_number().over(w).alias("_k"),
        F.count(F.lit(1)).over(wfull).alias("_n"),
        F.sum(q).over(wfull).cast(dec).alias("_Sn"),
    )

    def _stat(s_col, k_col, total_col, len_col):
        """a/(k*(len-k)) with a = s^2*(len-k) + (total-s)^2*k exact."""
        rest = total_col - s_col
        a = s_col * s_col * (len_col - k_col) + rest * rest * k_col
        return a.cast("double") / (
            k_col.cast("double") * (len_col - k_col)
        )

    k, n = F.col("_k"), F.col("_n")
    lvl1 = pts.withColumn(
        "_v1",
        F.when(k < n, _stat(F.col("_S"), k, F.col("_Sn"), n)),
    )
    rn1w = Window.partitionBy(*keys).orderBy(
        F.desc_nulls_last("_v1"), F.asc("_k")
    )
    lvl1 = lvl1.withColumn("_rn1", F.row_number().over(rn1w))
    top1 = F.when((F.col("_rn1") == 1) & F.col("_v1").isNotNull(), True)
    lvl1 = lvl1.select(
        *keys,
        "_S", "_k", "_n", "_Sn", "_v1",
        F.max(F.when(top1, k)).over(wfull).alias("_k1"),
        F.max(F.when(top1, F.col("_v1"))).over(wfull).alias("_v1max"),
    )
    k1 = F.col("_k1")
    lvl1 = lvl1.withColumn(
        "_Sk1", F.max(F.when(k == k1, F.col("_S"))).over(wfull)
    )

    sk1, s, sn = F.col("_Sk1"), F.col("_S"), F.col("_Sn")
    lvl2 = lvl1.select(
        *keys,
        "_S", "_k", "_n", "_Sn", "_k1", "_v1max", "_Sk1",
        F.when(k < k1, _stat(s, k, sk1, k1)).alias("_vl"),
        F.when(
            (k > k1) & (k < n),
            _stat(s - sk1, k - k1, sn - sk1, n - k1),
        ).alias("_vr"),
    )
    rnlw = Window.partitionBy(*keys).orderBy(
        F.desc_nulls_last("_vl"), F.asc("_k")
    )
    rnrw = Window.partitionBy(*keys).orderBy(
        F.desc_nulls_last("_vr"), F.asc("_k")
    )
    lvl2 = lvl2.withColumn("_rnl", F.row_number().over(rnlw)).withColumn(
        "_rnr", F.row_number().over(rnrw)
    )
    topl = F.when((F.col("_rnl") == 1) & F.col("_vl").isNotNull(), True)
    topr = F.when((F.col("_rnr") == 1) & F.col("_vr").isNotNull(), True)
    lvl2 = lvl2.select(
        *keys,
        "_n", "_Sn", "_k1", "_v1max", "_Sk1",
        F.max(F.when(topl, k)).over(wfull).alias("_k2l"),
        F.max(F.when(topl, F.col("_vl"))).over(wfull).alias("_vlmax"),
        F.max(F.when(topr, k)).over(wfull).alias("_k2r"),
        F.max(F.when(topr, F.col("_vr"))).over(wfull).alias("_vrmax"),
    )

    # gains: G = v_max - S_seg^2/len, each ONE mirrored float expression
    base1 = (sn * sn).cast("double") / n
    basel = (sk1 * sk1).cast("double") / k1
    tr = sn - sk1
    baser = (tr * tr).cast("double") / (n - k1)
    return lvl2.groupBy(*keys).agg(
        F.max("_n").cast("int").alias("n"),
        F.max("_k1").cast("int").alias("k1"),
        F.max(F.col("_v1max") - base1).alias("gain1"),
        F.max("_k2l").cast("int").alias("k2_left"),
        F.max(F.col("_vlmax") - basel).alias("gain_left"),
        F.max("_k2r").cast("int").alias("k2_right"),
        F.max(F.col("_vrmax") - baser).alias("gain_right"),
    )


def page_hinkley(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    delta: float = 0.0,
    lam: float = 50.0,
    exact_decimals: int = 6,
) -> DataFrame:
    """Page–Hinkley sequential mean-shift detector per key (Page 1954,
    Biometrika 41 — the one-sided form; Mouss et al. 2004 for the
    streaming-drift formulation used by the online-learning
    literature).  One summary row per key:

        m_t  = Σ_{i<=t} (x_i − x̄_i − δ),   x̄_i the RUNNING mean,
        PH_t = m_t − min_{j<=t} m_j,
        ph_max  = max_t PH_t,
        alarm_i = first t with PH_t > λ   (NULL if never).

    Unlike ``cusum_changepoints`` (known in-control target, per-row
    chart), Page–Hinkley self-centers on the running mean — the
    standard concept-drift door when no target is known.

    Engine exactness: values snap to the ``exact_decimals`` grid as
    DECIMAL, the running sum S_i is an exact DECIMAL, each per-step
    term (x_i − S_i/i − δ) is ONE fixed float expression floor-rounded
    back onto the grid, and m/min/PH accumulate in DECIMAL — exact
    under any partitioning, identical in the DuckDB replay.  ``delta``
    and ``lam`` must be exact at the grid.

    Scale shape: one Exchange + one sort per key (three streaming
    window frames over the same spec), then a hash aggregate; zero
    Python.  State is O(1) per row — the streaming-twin shape.
    """
    if lam <= 0:
        raise ValueError(f"threshold lam must be > 0, got {lam}")
    d = int(exact_decimals)
    if not 0 < d <= 12:
        raise ValueError(f"exact_decimals must be in 1..12, got {d}")
    for name, val in (("delta", delta), ("lam", lam)):
        if round(val, d) != val:
            raise ValueError(
                f"{name}={val} is not exact at {d} decimals; quantize it"
            )
    keys = [key] if isinstance(key, str) else list(key)
    order_cols = [ts_col] + ([tiebreak_col] if tiebreak_col is not None else [])
    order = [F.col(c) for c in order_cols]
    wrun = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    word = Window.partitionBy(*keys).orderBy(*order)
    dec = f"decimal({20 + d}, {d})"

    vq = _floor_round(F.col(value_col).cast("double"), d).cast(dec)
    staged = df.select(*keys, *order_cols, vq.alias("_vq"))
    staged = staged.withColumn("_i", F.row_number().over(word)).withColumn(
        "_s", F.sum("_vq").over(wrun)
    )
    term = (
        F.col("_vq").cast("double")
        - F.col("_s").cast("double") / F.col("_i").cast("double")
        - F.lit(float(delta))
    )
    staged = staged.withColumn("_tq", _floor_round(term, d).cast(dec))
    staged = staged.withColumn("_m", F.sum("_tq").over(wrun))
    staged = staged.withColumn(
        "_ph", F.col("_m") - F.min("_m").over(wrun)
    )
    lam_dec = F.lit(float(lam)).cast(dec)
    return staged.groupBy(*keys).agg(
        F.count("*").cast("int").alias("n"),
        F.max("_ph").cast("double").alias("ph_max"),
        F.min(F.when(F.col("_ph") > lam_dec, F.col("_i"))).alias("alarm_i"),
    )
