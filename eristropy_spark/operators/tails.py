"""Heavy-tail and digit-law data-quality statistics per signal key:

* ``hill_tail`` — the Hill estimator of the Pareto tail index (Hill
  1975, Ann. Statist. 3): over the k largest magnitudes
  x_(1) >= ... >= x_(k) >= x_(k+1),

      H = (1/k) Σ_{i<=k} ln( x_(i) / x_(k+1) ),    alpha = 1/H

  the standard "how heavy is this metric's tail" diagnostic (alpha < 2
  means infinite variance — percentile rollups and z-scores stop
  meaning anything; the thing you want flagged before a 100 TB agg).
* ``benford`` — first-significant-digit conformity to Benford's law
  (Newcomb 1881 / Benford 1938): Pearson χ² against
  p_d = log10(1 + 1/d) plus the mean-absolute-deviation conformity
  score of Nigrini's audit practice.  Digit censuses are the classic
  fabricated/synthetic-data detector for ingest QA.

Neither exists in the reference engine — monitoring-tier capability
(family: cusum / drift / anomaly_episodes).

Scale shape: ``hill_tail`` is ONE keyed window pass (row_number over
magnitude-descending order — the per-key top-(k+1) selection), a
filter that throws away everything below rank k+1 BEFORE any further
work, and a per-key reduce that reuses the window's partitioning (no
second Exchange).  ``benford`` extracts the leading digit IN-ROW from
the exact integer token (string head of an integer — engine-portable,
no float log10 edge cases at powers of ten), then one (key, digit)
two-phase hash aggregate and a per-key reduce.  Missing digits enter
the χ² and MAD through analytic closures (Σ_missing n·p_d and
Σ_missing p_d) instead of scaffold rows — no joins anywhere.  Benford
probabilities are embedded as full-precision double literals shared
verbatim with the SQL oracle, so both engines parse identical IEEE
values.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["hill_tail", "benford", "BENFORD_P", "cvar_tail", "gpd_pot", "gumbel_blockmax", "extremal_index"]

# p_d = log10(1 + 1/d), d = 1..9 — full round-trip repr; the oracle SQL
# embeds exactly these literal texts
BENFORD_P: tuple[float, ...] = tuple(math.log10(1.0 + 1.0 / d) for d in range(1, 10))


def _keys(key) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def hill_tail(
    df: DataFrame,
    key,
    value_col: str = "value",
    tiebreak_cols: tuple[str, ...] = (),
    k: int = 20,
) -> DataFrame:
    """(*key, n_pos, x_kth, hill, alpha) — one row per key.  ``n_pos``
    counts the key's nonzero magnitudes; keys with n_pos < k+1 emit
    NULL statistics (the estimator needs k+1 order statistics).
    ``x_kth`` is the (k+1)-th largest magnitude (the normalizer).

    Order is (|value| DESC, *tiebreak_cols) via ``row_number`` — pass a
    unique tiebreak (e.g. an event id) so the selection is
    deterministic under ties; the estimator itself is tie-invariant
    (equal magnitudes contribute equal log-ratios) but the (k+1)-th
    element under a tie straddling the cut is not.

    Each ln x_(i) is floor-quantized to the 12-dp grid and summed in
    DECIMAL, so H — and hence alpha — is partition-invariant
    bit-for-bit and replayable by an independent SQL engine.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keys = _keys(key)
    x = F.abs(F.col(value_col).cast("double"))
    pts = df.select(*keys, *tiebreak_cols, x.alias("_x")).where(F.col("_x") > 0)
    order = [F.col("_x").desc()] + [F.col(c) for c in tiebreak_cols]
    w_rank = Window.partitionBy(*keys).orderBy(*order)
    w_key = Window.partitionBy(*keys)
    ranked = pts.select(
        *keys,
        "_x",
        F.row_number().over(w_rank).alias("_rn"),
        F.count("*").over(w_key).alias("_np"),
    ).where(F.col("_rn") <= k + 1)
    lnx = _floor_round(F.log(F.col("_x")), 12).cast("decimal(38, 12)")
    red = ranked.groupBy(*keys).agg(
        F.max("_np").alias("n_pos"),
        F.min("_x").alias("_xref"),  # rank k+1 is the smallest kept
        F.sum(F.when(F.col("_rn") <= k, lnx)).alias("_slog"),
    )
    ok = F.col("n_pos") >= k + 1
    ln_ref = _floor_round(F.log(F.col("_xref")), 12)
    h = (F.col("_slog").cast("double") - F.lit(float(k)) * ln_ref) / F.lit(float(k))
    nulld = F.lit(None).cast("double")
    return red.select(
        *keys,
        "n_pos",
        F.when(ok, F.col("_xref")).otherwise(nulld).alias("x_kth"),
        F.when(ok, h).otherwise(nulld).alias("hill"),
        F.when(ok & (h != 0.0), F.lit(1.0) / h).otherwise(nulld).alias("alpha"),
    )


def benford(
    df: DataFrame,
    key,
    value_col: str = "value",
    scale: int = 2,
) -> DataFrame:
    """(*key, n, n_digits_present, chi2, mad) — one row per key.

    Values are canonicalized to the exact integer token
    round(value·10^scale) (the engine's integer-token convention); zero
    tokens are excluded (no leading digit).  The leading digit is the
    first character of the integer's decimal string — exact, identical
    in any engine, no float log10 at power-of-ten boundaries.

        chi2 = Σ_{d=1..9} (c_d − n·p_d)² / (n·p_d)
             = Σ_present [ (c_d − n·p_d)²/(n·p_d) − n·p_d ] + n
        mad  = (1/9) Σ_{d=1..9} |c_d/n − p_d|
             = (1/9) [ Σ_present (|c_d/n − p_d| − p_d) + 1 ]

    (the analytic closures fold the zero-count digits in without
    scaffold rows).  Keys whose tokens are all zero have no leading
    digits and emit no row.  Per-digit terms are floor-quantized to the
    12-dp grid and summed in DECIMAL — partition-invariant,
    SQL-replayable.
    """
    if not 0 <= scale <= 6:
        raise ValueError(f"scale must be in 0..6, got {scale}")
    keys = _keys(key)
    tok = F.round(F.col(value_col) * F.lit(float(10**scale))).cast("long")
    pts = (
        df.select(*keys, tok.alias("_tok"))
        .where(F.col("_tok") != 0)
        .select(
            *keys,
            F.substring(F.abs(F.col("_tok")).cast("string"), 1, 1)
            .cast("int")
            .alias("_d"),
        )
    )
    cnt = pts.groupBy(*keys, "_d").agg(F.count("*").cast("long").alias("_c"))
    w_key = Window.partitionBy(*keys)
    tot = cnt.withColumn("_n", F.sum("_c").over(w_key))
    # p_d lookup as a literal CASE — the same literal texts the oracle
    # SQL embeds
    p = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        p = F.when(F.col("_d") == d, F.lit(BENFORD_P[d - 1])).otherwise(p)
    nd = F.col("_n").cast("double")
    cd = F.col("_c").cast("double")
    exp_ = nd * p
    t_chi = _floor_round((cd - exp_) * (cd - exp_) / exp_ - exp_, 12).cast(
        "decimal(38, 12)"
    )
    t_mad = _floor_round(F.abs(cd / nd - p) - p, 12).cast("decimal(38, 12)")
    red = tot.groupBy(*keys).agg(
        F.max("_n").alias("n"),
        F.count("*").cast("int").alias("n_digits_present"),
        F.sum(t_chi).cast("double").alias("_schi"),
        F.sum(t_mad).cast("double").alias("_smad"),
    )
    return red.select(
        *keys,
        "n",
        "n_digits_present",
        (F.col("_schi") + F.col("n").cast("double")).alias("chi2"),
        ((F.col("_smad") + F.lit(1.0)) / F.lit(9.0)).alias("mad"),
    )


def cvar_tail(
    df: DataFrame,
    key,
    value_col: str = "value",
    alpha: float = 0.95,
) -> DataFrame:
    """(*key, n, var_alpha, n_exceed, cvar, mean_excess) — Value-at-
    Risk and Conditional VaR (expected shortfall) per key at level
    ``alpha`` (Rockafellar & Uryasev 2000; the coherent tail-risk
    measure Basel/monitoring stacks report next to a Hill exponent):

        var_alpha   = exact interpolated alpha-quantile of the values
        cvar        = mean of the values >= var_alpha
        mean_excess = cvar - var_alpha   (the POT mean-excess statistic)

    Exactness: the quantile is Spark's exact ``percentile`` (≡ DuckDB
    ``quantile_cont`` bit-for-bit); tail membership is a deterministic
    >= comparison against that shared double; the tail sum runs in
    DECIMAL(26,6) over 6-dp-quantized values so the mean is ONE
    division of exact operands.  Keys with an empty tail (n = 0)
    cannot occur (the max always qualifies); n < 2 emits the row with
    cvar = var = the value itself.

    Scale shape: ONE keyed Exchange — an unbounded window for the
    quantile (exact-path bound: one key's values buffer on one task;
    approx_percentile is the unbounded-key swap) and a same-key
    groupBy.  No joins, no Python.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    keys = [key] if isinstance(key, str) else list(key)
    w_key = Window.partitionBy(*keys)

    v = F.col(value_col).cast("double")
    pts = df.select(*keys, v.alias("_v")).withColumn(
        "_var", F.percentile(F.col("_v"), F.lit(float(alpha))).over(w_key)
    )
    in_tail = F.col("_v") >= F.col("_var")
    vq = _floor_round(F.col("_v"), 6).cast("decimal(26, 6)")
    agg = pts.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n"),
        F.max("_var").alias("var_alpha"),
        F.sum(F.when(in_tail, 1).otherwise(0)).cast("long").alias("n_exceed"),
        F.sum(F.when(in_tail, vq)).alias("_tail_sum"),
    )
    cvar = F.col("_tail_sum").cast("double") / F.col("n_exceed").cast("double")
    return agg.select(
        *keys,
        "n",
        "var_alpha",
        "n_exceed",
        cvar.alias("cvar"),
        (cvar - F.col("var_alpha")).alias("mean_excess"),
    )


def gpd_pot(
    df: DataFrame,
    key,
    value_col: str = "value",
    q: float = 0.9,
    min_k: int = 10,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(*key, n, u, k, b0, b1, xi, sigma) — peaks-over-threshold
    Generalized Pareto tail fit per key via probability-weighted
    moments (Hosking & Wallis 1987, Technometrics 29; PWMs: Landwehr
    et al. 1979): the parametric tail model the Pickands–Balkema–
    de Haan theorem guarantees above a high threshold, completing the
    EVT family (``hill_tail`` assumes a pure Pareto xi > 0; GPD also
    covers exponential xi = 0 and bounded xi < 0 tails).

    Over the exceedances y_(1) <= ... <= y_(k) of the exact
    interpolated ``q``-quantile threshold u:

        b0 = (1/k) Σ y_(j)                       (sample a0 = E[Y])
        b1 = (1/k) Σ ((k-j)/(k-1))·y_(j)         (sample a1 = E[Y·S(Y)])
        xi = 2 − b0/(b0 − 2·b1),   sigma = 2·b0·b1/(b0 − 2·b1)

    (from a_s = sigma/((s+1)(s+1−xi)); xi < 1 assumed, the PWM
    validity region).  Keys with k < ``min_k`` exceedances emit NULL
    statistics; a degenerate b0 = 2·b1 (all-equal exceedances) NULLs
    xi/sigma.

    Exactness: u is Spark's exact ``percentile`` (≡ quantile_cont
    bit-for-bit); each weighted term is quantized to the 1e-6 grid as
    an exact integer BEFORE summation (the cvar_tail protocol — sums
    are order-free), and b0/b1/xi/sigma are fixed float expressions
    over those integers, written in the same shape in the SQL replay.

    Scale shape: ONE keyed Exchange — the quantile window, the
    rank/count windows over the filtered exceedances (same
    partitioning, no re-shuffle), and a same-key groupBy.  No joins,
    no Python; only exceedances (a (1-q) fraction) reach the rank
    stage.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    if min_k < 2:
        raise ValueError(f"min_k must be >= 2, got {min_k}")
    keys = _keys(key)
    w_key = Window.partitionBy(*keys)
    w_ord = Window.partitionBy(*keys).orderBy(
        F.col("_v").asc(), *[F.col(c).asc() for c in tiebreak_cols]
    )

    v = F.col(value_col).cast("double")
    pts = (
        df.select(*keys, v.alias("_v"), *tiebreak_cols)
        .withColumn("_u", F.percentile(F.col("_v"), F.lit(float(q))).over(w_key))
        .withColumn("_n", F.count("*").over(w_key))
    )
    ex = (
        pts.filter(F.col("_v") > F.col("_u"))
        .withColumn("_j", F.row_number().over(w_ord))
        .withColumn("_k", F.count("*").over(w_key))
    )
    y = F.col("_v") - F.col("_u")
    w = F.when(
        F.col("_k") > 1,
        (F.col("_k") - F.col("_j")).cast("double")
        / (F.col("_k") - F.lit(1)).cast("double"),
    ).otherwise(F.lit(0.0))
    t0 = F.floor(y * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    t1 = F.floor((w * y) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    agg = ex.groupBy(*keys).agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_u").alias("u"),
        F.max("_k").cast("long").alias("k"),
        F.sum(t0).alias("_s0"),
        F.sum(t1).alias("_s1"),
    )
    kd = F.col("k").cast("double")
    b0 = (F.col("_s0").cast("double") / F.lit(1000000.0)) / kd
    b1 = (F.col("_s1").cast("double") / F.lit(1000000.0)) / kd
    denom = b0 - F.lit(2.0) * b1
    ok = F.col("k") >= F.lit(int(min_k))
    nz = denom != F.lit(0.0)
    return agg.select(
        *keys,
        "n",
        "u",
        "k",
        F.when(ok, b0).alias("b0"),
        F.when(ok, b1).alias("b1"),
        F.when(ok & nz, F.lit(2.0) - b0 / denom).alias("xi"),
        F.when(ok & nz, F.lit(2.0) * b0 * b1 / denom).alias("sigma"),
    )


def gumbel_blockmax(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    block_sec: int = 3600,
    t_return: float = 100.0,
    min_blocks: int = 5,
) -> DataFrame:
    """(*key, m, b0, b1, mu, sigma, return_level) — the block-maxima
    Gumbel fit per key via probability-weighted moments (Greenwood et
    al. 1979; Hosking et al. 1985), completing the EVT family:
    ``hill_tail``/``gpd_pot`` model the peaks-over-threshold view,
    this the ANNUAL-MAXIMA view (Gumbel 1958) — fit the light-tailed
    GEV member to per-block maxima and read off the T-block return
    level, the "what's the worst bucket we should expect per T hours"
    capacity question.

    Over the m block maxima x_(1) <= ... <= x_(m) (blocks =
    ``block_sec`` event-time buckets, maxima exact):

        b0 = (1/m) Σ x_(j)
        b1 = (1/(m(m−1))) Σ (j−1)·x_(j)
        sigma = (2·b1·m(m−1)/... ) — canonically (2b1 − b0)/ln 2
        mu = b0 − γ·sigma          (γ = 0.5772156649015329)
        return_level = mu − sigma·ln(−ln(1 − 1/T))

    Exactness: each block maximum is quantized to the 1e-6 grid as an
    exact integer t0 BEFORE any sum (the gpd_pot protocol); rank
    weights (j−1)·t0 stay exact integers (tie order cannot change the
    sum — tied maxima get consecutive ranks whose total weight is
    fixed), both sums accumulate in DECIMAL(38,0), and every
    statistic is ONE fixed float expression — bit-identical in the
    DuckDB replay.

    Scale shape: one (key, block) hash aggregate (map-side combined),
    then ONE keyed Exchange for the rank window + same-key reduce —
    the rank stage sees only m rows per key (m = time range /
    block_sec, NOT the event count).  No joins, no Python.

    Keys with m < ``min_blocks`` emit NULL statistics.
    """
    if block_sec <= 0:
        raise ValueError(f"block_sec must be > 0, got {block_sec}")
    if t_return <= 1.0:
        raise ValueError(f"t_return must be > 1, got {t_return}")
    if min_blocks < 2:
        raise ValueError(f"min_blocks must be >= 2, got {min_blocks}")
    keys = _keys(key)

    bm = bucket_grid(
        df, keys, ts_col, block_sec,
        F.max(F.col(value_col).cast("double")).alias("_x"), bucket="_b",
    )

    w_ord = Window.partitionBy(*keys).orderBy(
        F.col("_x").asc(), F.col("_b").asc()
    )
    ranked = bm.withColumn("_j", F.row_number().over(w_ord)).withColumn(
        "_t0", F.floor(F.col("_x") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    d0 = "decimal(38,0)"
    agg = ranked.groupBy(*keys).agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("_t0").cast(d0)).alias("_s0"),
        F.sum(((F.col("_j") - 1).cast(d0) * F.col("_t0").cast(d0))).alias(
            "_s1"
        ),
    )

    md = F.col("m").cast("double")
    b0 = (F.col("_s0").cast("double") / F.lit(1000000.0)) / md
    b1 = (F.col("_s1").cast("double") / F.lit(1000000.0)) / (
        md * (md - F.lit(1.0))
    )
    sigma = (F.lit(2.0) * b1 - b0) / F.lit(math.log(2.0))
    mu = b0 - F.lit(0.5772156649015329) * sigma
    yt = -math.log(-math.log(1.0 - 1.0 / float(t_return)))
    rl = mu + sigma * F.lit(yt)
    ok = F.col("m") >= F.lit(int(min_blocks))
    nulld = F.lit(None).cast("double")
    return agg.select(
        *keys,
        "m",
        F.when(ok, b0).otherwise(nulld).alias("b0"),
        F.when(ok, b1).otherwise(nulld).alias("b1"),
        F.when(ok, mu).otherwise(nulld).alias("mu"),
        F.when(ok, sigma).otherwise(nulld).alias("sigma"),
        F.when(ok, rl).otherwise(nulld).alias("return_level"),
    )


def extremal_index(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    q: float = 0.95,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(*key, n, u, n_exc, max_gap, theta) — the Ferro & Segers 2003
    (JRSS-B 65) intervals estimator of the extremal index θ ∈ (0, 1]
    per key: DO extremes cluster?  θ ≈ 1 means exceedances of the
    ``q``-quantile threshold arrive independently (one-off spikes);
    θ → 0 means they arrive in runs (mean cluster size ≈ 1/θ) — the
    missing piece between marginal tail fits (hill/gpd/gumbel say how
    BAD extremes get, θ says how LONG they persist, which is what
    capacity planning and alert de-duplication actually need).

    Over interexceedance OBSERVATION gaps T_1..T_{N−1} (differences
    of exceedance row indexes in (ts, tiebreak) order):

        θ̂ = min(1, 2(Σ T_i)² / ((N−1) Σ T_i²))           if max T ≤ 2
        θ̂ = min(1, 2(Σ(T_i−1))² / ((N−1) Σ(T_i−1)(T_i−2)))  otherwise

    (the bias-adjusted branch for sparse exceedances).  NULL when
    N < 2 or the denominator is 0.

    Exactness: u is Spark's exact ``percentile`` (≡ quantile_cont
    bit-for-bit, the gpd_pot protocol), gaps and all four sums are
    exact integers in DECIMAL(38,0), θ̂ is ONE fixed float
    expression — bit-identical in the DuckDB replay.

    Scale shape: ONE keyed Exchange — the row-index + quantile
    windows, the lag window over the filtered exceedances (same
    partitioning), and the same-key reduce.  Only exceedances (a
    (1−q) fraction) reach the lag stage.  No joins, no Python.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    keys = _keys(key)
    w_key = Window.partitionBy(*keys)
    w_ord = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]
    )

    v = F.col(value_col).cast("double")
    pts = (
        df.select(*keys, F.col(ts_col), v.alias("_v"), *tiebreak_cols)
        .withColumn("_idx", F.row_number().over(w_ord))
        .withColumn("_u", F.percentile(F.col("_v"), F.lit(float(q))).over(w_key))
        .withColumn("_n", F.count("*").over(w_key))
    )
    ex = pts.filter(F.col("_v") > F.col("_u"))
    w_exc = Window.partitionBy(*keys).orderBy("_idx")
    gaps = ex.withColumn(
        "_gap", (F.col("_idx") - F.lag("_idx").over(w_exc)).cast("long")
    )

    d0 = "decimal(38,0)"
    g = F.col("_gap")
    agg = gaps.groupBy(*keys).agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_u").alias("u"),
        F.count("*").cast("long").alias("n_exc"),
        F.max("_gap").cast("long").alias("max_gap"),
        F.sum(g.cast(d0)).alias("_st"),
        F.sum((g.cast(d0) * g.cast(d0))).alias("_st2"),
        F.sum((g - 1).cast(d0)).alias("_sm1"),
        F.sum(((g - 1).cast(d0) * (g - 2).cast(d0))).alias("_sm12"),
    )

    nd = (F.col("n_exc") - 1).cast("double")
    th_small = (
        F.lit(2.0)
        * F.col("_st").cast("double")
        * F.col("_st").cast("double")
        / (nd * F.col("_st2").cast("double"))
    )
    th_big = (
        F.lit(2.0)
        * F.col("_sm1").cast("double")
        * F.col("_sm1").cast("double")
        / (nd * F.col("_sm12").cast("double"))
    )
    use_small = F.col("max_gap") <= 2
    den_ok = F.when(
        use_small, F.col("_st2") > F.lit(0).cast(d0)
    ).otherwise(F.col("_sm12") > F.lit(0).cast(d0))
    theta = F.when(
        (F.col("n_exc") >= 2) & den_ok,
        F.least(F.lit(1.0), F.when(use_small, th_small).otherwise(th_big)),
    )
    return agg.select(
        *keys, "n", "u", "n_exc", "max_gap", theta.alias("theta")
    )
