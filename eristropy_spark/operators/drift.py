"""Distribution-drift monitors — "did this signal's VALUE DISTRIBUTION
move between the first and second half of its history?" — one row per
signal key (``quantile_drift``: one row per key and quantile).

Split protocol (``_split``, shared by every operator): within a key the
points are ranked i = 0..n-1 by ``row_number`` over (ts, tiebreak);
point i is REFERENCE iff i < floor(n/2), CURRENT otherwise.  So
n_ref = floor(n/2) and n_cur = n − floor(n/2) — a 1-point key has an
empty reference half and NULL statistics — and, with a tiebreak that
is unique within the key, the split (hence every statistic) is the
same under any partitioning.

Census (``_census``): the (key, value) aggregate with exact per-half
counts (_ca, _cb), one row per distinct value.  Running sums over it
in value order (``functions/ranks.cum``) evaluate both empirical
CDFs, pooled ranks and placements at every distinct value, so ties
between the halves are handled exactly.  The family, by what each
statistic watches:

* CDF shape — ``ks_drift`` (sup gap; D = d_num/(n_ref·n_cur) on the
  exact-integer |cumA·nB − cumB·nA|, p ≤ 2·exp(−2·ne·D²),
  ne = n_ref·n_cur/(n_ref+n_cur)), ``kuiper_drift`` (D⁺ + D⁻),
  ``cvm_drift`` (squared gap), ``ad_drift`` (tail-weighted gap),
  ``wasserstein_drift`` (W1), ``energy_drift`` (energy distance);
* binned or category mass — ``psi_drift`` (Population Stability Index
  over K equal-width bins, PSI = Σ_b (p_ref,b − p_cur,b)·ln(p_ref,b /
  p_cur,b), p = (c + 0.5)/(n + 0.5K)), ``chi2_drift``,
  ``categorical_drift`` (Jensen–Shannon of a category column);
* location — ``mannwhitney_drift``, ``fligner_policello_drift``,
  ``hodges_lehmann_drift`` (shift size: a census × census join),
  ``ttest_drift`` (Welch; moments, no census);
* scale — ``ansari_drift``, ``mood_scale_drift``; location + scale —
  ``lepage_drift``, ``cucconi_drift``;
* where the mass moved — ``quantile_drift`` (exact per-half
  percentiles, no census).

Exactness: counts, rank sums and CDF gaps are exact integers (BIGINT
or DECIMAL(38,0)); a rational term is floor-quantized onto a fixed
decimal grid before its DECIMAL sum (the repo's quantize-then-derive
rule), and each statistic is one fixed float expression over those
exact sums — partition-invariant, and an independent SQL replay
reproduces every double bit-for-bit.

Scale shape: pure DataFrame composition over the long row layout — the
keyed split window (one keyed Exchange), a (key, value) two-phase hash
aggregate, running/lead windows and a per-key reduce riding the same
key partitioning.  No Python, no arrays across shuffles; only
``hodges_lehmann_drift`` joins.  A key with a billion points streams
through every stage.

Missing-bin closure (PSI): bins absent from BOTH halves still carry
smoothing mass.  Each such bin contributes the per-key constant
t0 = (pA0 - pB0)·ln(pA0/pB0) with pX0 = 0.5/(nX + 0.5K), so
PSI = Σ_present t_b + (K - m_present)·t0 — no scaffold rows, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, IntegralType

from eristropy_spark.functions.ranks import cum, mid2, q12
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["ks_drift", "psi_drift", "mannwhitney_drift", "wasserstein_drift", "cvm_drift", "quantile_drift", "categorical_drift", "chi2_drift", "ttest_drift", "energy_drift", "hodges_lehmann_drift", "ad_drift", "ansari_drift", "kuiper_drift", "mood_scale_drift", "lepage_drift", "cucconi_drift", "fligner_policello_drift"]


def _keys(key) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _split(df, keys, ts_col, tiebreak_col, value, *extra, col="_v"):
    """(*keys, col, _i, _n, *extra, _ref): ``value`` as ``col``, the
    0-based (ts, tiebreak) rank ``_i`` and point count ``_n`` of its
    key, and the split flag ``_ref`` = _i < floor(_n/2) (module
    docstring).  ``extra`` are further keyed-window columns."""
    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w_rank = Window.partitionBy(*keys).orderBy(*order)
    return df.select(
        *keys,
        value.alias(col),
        (F.row_number().over(w_rank) - 1).alias("_i"),
        F.count("*").over(Window.partitionBy(*keys)).alias("_n"),
        *extra,
    ).withColumn("_ref", F.col("_i") < F.floor(F.col("_n") / 2))


def _half_counts(a="_ca", b="_cb"):
    """The two aggregates counting a group's reference / current points."""
    return (
        F.sum(F.when(F.col("_ref"), 1).otherwise(0)).cast("long").alias(a),
        F.sum(F.when(~F.col("_ref"), 1).otherwise(0)).cast("long").alias(b),
    )


def _census(pts, keys, col="_v"):
    """(*keys, col, _ca, _cb): per-half counts of each distinct ``col``."""
    return pts.groupBy(*keys, col).agg(*_half_counts())


def _cdf_totals(pts, keys):
    """(*keys, _cuma, _cumb, _na, _nb): both halves' empirical CDFs at
    every distinct value (ties between the halves are exact: both CDFs
    step at the same x) and the half totals, which are the final
    cumulative counts — an unbounded max over the SAME key
    partitioning, so no extra Exchange."""
    w_cdf = cum(keys)
    cdf = _census(pts, keys).select(
        *keys,
        F.sum("_ca").over(w_cdf).alias("_cuma"),
        F.sum("_cb").over(w_cdf).alias("_cumb"),
    )
    w_key = Window.partitionBy(*keys)
    return cdf.withColumn("_na", F.max("_cuma").over(w_key)).withColumn(
        "_nb", F.max("_cumb").over(w_key)
    )


# ---- pooled-rank pieces of the linear rank statistics; a census row
# is the tie run [lo, hi] = [_cumt − _t + 1, _cumt] of the pooled order


def _ranked(pts, keys):
    """The census plus pooled tie count ``_t``, its running total
    ``_cumt`` in value order and the key's point count ``_N``."""
    cnt = _census(pts, keys).withColumn("_t", F.col("_ca") + F.col("_cb"))
    return cnt.withColumn("_cumt", F.sum("_t").over(cum(keys))).withColumn(
        "_N", F.sum("_t").over(Window.partitionBy(*keys))
    )


def _wilcoxon_sums():
    """The current half's doubled rank sum ``_r2b`` = Σ c_cur·(2·cum_t −
    t + 1) and the tie cube ``_tie`` = Σ(t³ − t).  DECIMAL(38,0)
    accumulation: Σt³ passes int64 at ~2.1M equal values in one signal
    (a constant sensor at scale), and Σc·2cum_t at ~2×10⁹ points — same
    rule as burstiness' gap-square sums; exact integers either way."""
    t = F.col("_t").cast("decimal(38,0)")
    return (
        F.sum(F.col("_cb").cast("decimal(38,0)") * mid2()).alias("_r2b"),
        F.sum(t * t * t - t).alias("_tie"),
    )


def _ansari_run_sum():
    """S = Σ_{i=lo}^{hi} min(i, N+1−i), the run's exact Ansari–Bradley
    score sum: two triangular sums split at m = ⌊(N+1)/2⌋."""
    d0 = "decimal(38,0)"
    lo = (F.col("_cumt") - F.col("_t") + 1).cast(d0)
    hi = F.col("_cumt").cast(d0)
    m = F.floor((F.col("_N") + 1) / 2).cast(d0)
    h1 = F.least(hi, m)
    part1 = F.when(
        h1 >= lo, (h1 * (h1 + 1) - (lo - 1) * lo) / 2
    ).otherwise(F.lit(0).cast(d0))
    l2 = F.greatest(lo, m + 1)
    np1 = (F.col("_N") + 1).cast(d0)
    part2 = F.when(
        hi >= l2,
        (hi - l2 + 1) * np1 - (hi * (hi + 1) - (l2 - 1) * l2) / 2,
    ).otherwise(F.lit(0).cast(d0))
    return (part1 + part2).cast(d0)


def _lrs_sums(a, w, d):
    """Census sums of the linear rank statistic with run-mean score
    column ``a``: ``w`` = Σ c_cur·a, ``_t1`` = Σ t·a (counts cast to
    the DECIMAL ``d``), the 6-dp-quantized ``_t2`` = Σ t·a², and the
    distinct-value count ``_nv`` — the structural degeneracy test:
    Var = 0 iff ONE distinct value (the float varterm sits within an
    ulp of 0 when degenerate)."""
    return (
        F.sum(F.col("_cb").cast(d) * F.col(a)).alias(w),
        F.sum(F.col("_t").cast(d) * F.col(a)).alias("_t1"),
        F.sum(
            _floor_round(
                F.col("_t").cast("double")
                * F.col(a).cast("double")
                * F.col(a).cast("double"),
                6,
            ).cast("decimal(38,6)")
        ).alias("_t2"),
        F.count("*").cast("long").alias("_nv"),
    )


def _lrs_z(w):
    """z of the linear rank statistic ``w`` (``_lrs_sums``) under the
    general variance n_ref·n_cur·(N·T2 − T1²)/(N²(N−1)), exact under
    ties; NULL when a half is empty, N < 2 or every value is tied."""
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    nd = na + nb
    t1d = F.col("_t1").cast("double")
    varterm = nd * F.col("_t2").cast("double") - t1d * t1d
    return F.when(
        (F.col("n_ref") >= 1)
        & (F.col("n_cur") >= 1)
        & (F.col("n_ref") + F.col("n_cur") >= 2)
        & (F.col("_nv") >= 2)
        & (varterm > F.lit(0.0)),
        (F.col(w).cast("double") * nd - nb * t1d)
        / F.sqrt(na * nb * varterm / (nd - F.lit(1.0))),
    )


def ks_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, d_num, d, lambda_sq, p_bound) — one row per
    key.  ``d_num`` = max|cumA·nB − cumB·nA| is the exact-integer
    numerator (D = d_num/(n_ref·n_cur)); ``lambda_sq`` = ne·D² and
    ``p_bound`` = min(1, 2·exp(−2·ne·D²)).  Keys where either half is
    empty (n < 2) emit NULL statistics.

    The time split is i < floor(n/2) over (ts, tiebreak) order — the
    deterministic first-half/second-half protocol, so the statistic is
    reproducible under any partitioning.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    # the exact-integer sup-statistic in one per-key reduce
    red = _cdf_totals(pts, keys).groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.max(
            F.abs(F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na"))
        ).alias("d_num"),
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    d = F.col("d_num").cast("double") / (na * nb)
    ne = na * nb / (na + nb)
    lam2 = ne * d * d
    ok = (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1)
    nulld = F.lit(None).cast("double")
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        "d_num",
        F.when(ok, d).otherwise(nulld).alias("d"),
        F.when(ok, lam2).otherwise(nulld).alias("lambda_sq"),
        F.when(ok, F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * lam2)))
        .otherwise(nulld)
        .alias("p_bound"),
    )


def psi_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """(*key, n_ref, n_cur, n_bins_used, psi) — one row per key.  Bins
    are K equal-width slices of the key's own [min, max] value range
    (top edge inclusive: bin = min(K-1, floor((v-lo)·K/(hi-lo)))); a
    constant series (hi == lo) puts all mass in bin 0 and yields
    PSI = 0.  Keys where either half is empty emit NULL psi, and so do
    keys with a NaN value (their range, hence every bin, is undefined).

    PSI with Laplace smoothing (+0.5 per bin) over FIXED K bins; bins
    empty in both halves enter via the analytic closure (module
    docstring) rather than scaffold rows.  Every per-bin term is
    floor-quantized to the 12-dp grid before summation, so the result
    is partition-invariant and bit-replayable in SQL.
    """
    if not 2 <= n_bins <= 1000:
        raise ValueError(f"n_bins must be in 2..1000, got {n_bins}")
    keys = _keys(key)
    w_key = Window.partitionBy(*keys)
    v = F.col(value_col).cast("double")
    pts = _split(
        df, keys, ts_col, tiebreak_col, v,
        F.min(v).over(w_key).alias("_lo"), F.max(v).over(w_key).alias("_hi"),
    )
    kf = F.lit(float(n_bins))
    # a NaN value makes _hi NaN, which would put every point in bin 0:
    # such a key's points go to a NULL bin instead, and its psi is NULL
    bin_ = F.when(F.isnan("_hi"), F.lit(None).cast("long")).when(
        F.col("_hi") > F.col("_lo"),
        F.least(
            F.lit(n_bins - 1).cast("long"),
            F.floor((F.col("_v") - F.col("_lo")) * kf
                    / (F.col("_hi") - F.col("_lo"))),
        ),
    ).otherwise(F.lit(0).cast("long"))

    cnt = _census(pts.select(*keys, bin_.alias("_bin"), "_ref"), keys, "_bin")
    tot = cnt.withColumn("_na", F.sum("_ca").over(w_key)).withColumn(
        "_nb", F.sum("_cb").over(w_key)
    )
    half_k = F.lit(0.5 * n_bins)
    dena = F.col("_na").cast("double") + half_k
    denb = F.col("_nb").cast("double") + half_k
    pa = (F.col("_ca").cast("double") + F.lit(0.5)) / dena
    pb = (F.col("_cb").cast("double") + F.lit(0.5)) / denb
    term = q12((pa - pb) * F.log(pa / pb))
    # per-key constant: the contribution of a bin empty in BOTH halves
    pa0 = F.lit(0.5) / dena
    pb0 = F.lit(0.5) / denb
    term0 = _floor_round((pa0 - pb0) * F.log(pa0 / pb0), 12)
    red = tot.groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.count("_bin").alias("_m"),  # present bins; 0 for a NaN key
        F.sum(term).cast("double").alias("_s"),
        F.max(term0).alias("_t0"),
    )
    ok = (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1) & (F.col("_m") >= 1)
    psi = F.col("_s") + (
        F.lit(n_bins).cast("double") - F.col("_m").cast("double")
    ) * F.col("_t0")
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.lit(n_bins).cast("int").alias("n_bins_used"),
        F.when(ok, psi).otherwise(F.lit(None).cast("double")).alias("psi"),
    )


def mannwhitney_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, u2, auc, z) — the two-sample Mann–Whitney
    U test (Mann & Whitney 1947; Wilcoxon rank-sum) between the first
    and second half of each key's history, the LOCATION-shift
    complement of ``ks_drift``'s shape test: U counts (cur, ref) value
    pairs where cur > ref (ties half), so ``auc`` = U/(n_ref·n_cur) is
    the probability a current value exceeds a reference value (the
    common-language effect size / ROC-AUC of the split; > 0.5 = upward
    drift).  ``z`` is the normal approximation with the standard
    tie-corrected variance

        Var U = (n_ref·n_cur/12)·((n+1) − Σ(t³−t)/(n(n−1)))

    over tie-group sizes t.  Everything integer until the last step:
    midranks are half-integers, so the DOUBLED rank-sum of the current
    half

        2·R_cur = Σ_values c_cur·(2·cum_t − t + 1)

    is an exact int64 (cum_t = running total count in value order),
    u2 = 2·U = 2·R_cur − n_cur·(n_cur+1) likewise, and Σ(t³−t) is an
    exact int64 — z and auc are then ONE fixed float expression each.
    z is NULL when a half is empty or every value is tied (Var = 0).

    Same time-split protocol and shuffle shape as ``ks_drift``: i <
    floor(n/2) over (ts, tiebreak) order; one keyed window pass, one
    (key, value) census aggregate, per-key reduces riding the same
    partitioning — no joins, no Python.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    ranked = _ranked(pts, keys)
    red = ranked.groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        *_wilcoxon_sums(),
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    nd = na + nb
    u2 = (F.col("_r2b") - F.col("n_cur") * (F.col("n_cur") + 1)).cast("long")
    td = F.col("_tie").cast("double")
    var_u = (na * nb / F.lit(12.0)) * (
        (nd + F.lit(1.0)) - td / (nd * (nd - F.lit(1.0)))
    )
    out = red.withColumn("u2", u2)
    u2d = F.col("u2").cast("double")
    auc = F.when(
        (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1),
        u2d / (F.lit(2.0) * na * nb),
    )
    z = F.when(
        (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1) & (var_u > F.lit(0.0)),
        (u2d - na * nb) / (F.lit(2.0) * F.sqrt(var_u)),
    )
    return out.select(
        *keys, "n_ref", "n_cur", "u2", auc.alias("auc"), z.alias("z")
    )


def wasserstein_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, w1) — exact 1-D Wasserstein-1 (earth-mover)
    distance between the first-half and second-half value distributions
    of each key, one row per key.

    W1 = ∫ |F_ref(x) − F_cur(x)| dx = Σ_i |F_ref(x_i) − F_cur(x_i)| ·
    (x_{i+1} − x_i) over the sorted distinct values — the magnitude
    complement of ``ks_drift`` (KS caps at 1 and saturates; W1 keeps
    growing with HOW FAR the mass moved, the metric embedding-drift
    monitors threshold on).  The CDF gap rides the same exact-integer
    numerator as KS (|cumA·nB − cumB·nA|, a BIGINT); each segment term
    is one fixed float expression floor-quantized to the 12-dp grid and
    summed as DECIMAL(38,12) (quantize-then-derive), so an independent
    SQL replay reproduces every double bit-for-bit.

    Scale shape: identical to ``ks_drift`` — a per-key rank window, a
    (key, value) two-phase hash aggregate, cumulative/lead windows over
    the SAME key partitioning, one per-key reduce.  No joins, no
    Python, no arrays across shuffles.  Keys where either half is
    empty emit NULL w1; a constant series yields w1 = 0.
    """
    keys = _keys(key)
    pts = _split(
        df, keys, ts_col, tiebreak_col, F.col(value_col).cast("double")
    )
    cnt = _census(pts, keys)
    w_cdf = cum(keys)
    w_lead = Window.partitionBy(*keys).orderBy("_v")
    w_key = Window.partitionBy(*keys)
    cdf = cnt.select(
        *keys,
        "_v",
        F.sum("_ca").over(w_cdf).alias("_cuma"),
        F.sum("_cb").over(w_cdf).alias("_cumb"),
        F.lead("_v").over(w_lead).alias("_vnext"),
    )
    tot = cdf.withColumn("_na", F.max("_cuma").over(w_key)).withColumn(
        "_nb", F.max("_cumb").over(w_key)
    )
    na_d = F.col("_na").cast("double")
    nb_d = F.col("_nb").cast("double")
    gap = F.abs(
        F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na")
    ).cast("double")
    # one fixed-order float expression per segment, quantized onto the
    # 12-dp grid BEFORE the (decimal-exact) per-key sum
    term = q12((gap / (na_d * nb_d)) * (F.col("_vnext") - F.col("_v")))
    red = tot.groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.sum(F.when(F.col("_vnext").isNotNull(), term)).alias("_w1d"),
    )
    ok = (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1)
    w1 = F.coalesce(F.col("_w1d").cast("double"), F.lit(0.0))
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.when(ok, w1).otherwise(F.lit(None).cast("double")).alias("w1"),
    )


def cvm_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, s_num, t_stat, t_adj) — the two-sample
    Cramér–von Mises criterion between the first and second half of
    each key's history (Anderson 1962, "On the distribution of the
    two-sample Cramér–von Mises criterion"): the WHOLE-CDF drift test
    completing the family — KS reacts to the single worst gap, W1 to
    total mass moved, CvM to the accumulated SQUARED gap (most
    sensitive to broad mid-distribution shifts):

        T = (n·m / N²) · Σ_x (F_ref(x) − F_cur(x))² · w(x),   N = n+m

    summed over the pooled sample (w = pooled multiplicity, the
    standard ties handling).  Exact integers all the way: with g_v =
    cumA·m − cumB·n at each distinct value,

        S = Σ_v (ca+cb) · g_v²     (an exact DECIMAL(38,0) sum)
        T = S / (N² · n · m)

    so T is ONE float division of exact operands.  ``t_adj`` is
    Anderson's normalized form (T − E[T]) / sqrt(Var[T]) with
    E = (1 + 1/N)/6 and the finite-sample variance from the same
    paper — threshold ~ t_adj > 2 ≈ the classic T > 0.461 at α=0.05.
    Keys with an empty half emit NULLs.

    Magnitude bound (documented, not checked): S ≤ N²·(nm)² needs
    N ≲ 2·10^6 points per key to stay inside DECIMAL(38,0) — beyond
    that, sample per key first (the statistic saturates long before).

    Same census shuffle shape as ``ks_drift``; no joins, no Python.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    cnt = _census(pts, keys)
    w_cdf = cum(keys)
    w_key = Window.partitionBy(*keys)
    cdf = cnt.select(
        *keys,
        "_ca",
        "_cb",
        F.sum("_ca").over(w_cdf).alias("_cuma"),
        F.sum("_cb").over(w_cdf).alias("_cumb"),
    )
    tot = cdf.withColumn("_na", F.max("_cuma").over(w_key)).withColumn(
        "_nb", F.max("_cumb").over(w_key)
    )
    # g and g² in exact DECIMAL so a 10^6-point key can't overflow the
    # int64 product path
    g = (
        (F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na"))
        .cast("decimal(19, 0)")
    )
    term = (F.col("_ca") + F.col("_cb")).cast("decimal(19, 0)") * (g * g)
    red = tot.groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.sum(term).alias("s_num"),
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    nd = na + nb
    t = F.col("s_num").cast("double") / (nd * nd * (na * nb))
    e_t = (F.lit(1.0) + F.lit(1.0) / nd) / F.lit(6.0)
    var_t = (
        (nd + F.lit(1.0))
        / (F.lit(45.0) * nd * nd)
        * (
            F.lit(4.0) * na * nb * nd
            - F.lit(3.0) * (na * na + nb * nb)
            - F.lit(2.0) * na * nb
        )
        / (F.lit(4.0) * na * nb)
    )
    ok = (F.col("n_ref") >= 2) & (F.col("n_cur") >= 2)
    nulld = F.lit(None).cast("double")
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.col("s_num").cast("decimal(38, 0)").alias("s_num"),
        F.when(ok, t).otherwise(nulld).alias("t_stat"),
        F.when(ok & (var_t > F.lit(0.0)), (t - e_t) / F.sqrt(var_t))
        .otherwise(nulld)
        .alias("t_adj"),
    )


def quantile_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    probs: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """(*key, p, q_ref, q_cur, shift) — the quantile-shift vector
    between the first and second half of each key's history, one row
    per requested quantile: WHERE in the distribution did the mass
    move?  The diagnostic the scalar tests can't answer — ks/cvm/w1
    say "it moved", the decile vector says "the p90 blew out while the
    median held" (a tail regression) vs "everything shifted by +c"
    (recalibration).  Pandey et al.'s QQ-monitoring shape, kept exact.

    Exactness: both halves' quantiles use Spark's exact interpolated
    ``percentile`` (≡ DuckDB ``quantile_cont`` bit-for-bit, the
    percentile_rollup precedent); ``shift`` = q_cur − q_ref is one
    float subtraction of those shared doubles.  Keys with an empty
    half emit NULL q_cur/shift (n = 1: the lone point is the ref).

    Scale shape: ONE keyed Exchange — the half-split rank window and
    the per-(key, half) exact percentiles ride the same partitioning,
    then an in-row explode of the <= |probs| quantile rows.  The exact
    path buffers one key's values per task (documented bound;
    approx_percentile is the unbounded-key swap).  No joins, no
    Python.
    """
    for p in probs:
        if not 0.0 < p < 1.0:
            raise ValueError(f"probs must be in (0, 1), got {p}")
    keys = _keys(key)
    pts = _split(
        df, keys, ts_col, tiebreak_col, F.col(value_col).cast("double")
    )
    aggs = []
    for j, p in enumerate(probs):
        aggs.append(
            F.percentile(F.when(F.col("_ref"), F.col("_v")), F.lit(float(p)))
            .alias(f"_r{j}")
        )
        aggs.append(
            F.percentile(F.when(~F.col("_ref"), F.col("_v")), F.lit(float(p)))
            .alias(f"_c{j}")
        )
    red = pts.groupBy(*keys).agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("p"),
                F.col(f"_r{j}").alias("q_ref"),
                F.col(f"_c{j}").alias("q_cur"),
            )
            for j, p in enumerate(probs)
        ]
    )
    ex = red.select(*keys, F.explode(rows).alias("_q"))
    return ex.select(
        *keys,
        F.col("_q.p").alias("p"),
        F.col("_q.q_ref").alias("q_ref"),
        F.col("_q.q_cur").alias("q_cur"),
        (F.col("_q.q_cur") - F.col("_q.q_ref")).alias("shift"),
    )


def categorical_drift(
    df: DataFrame,
    key,
    cat_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, n_cats, js_div) — Jensen–Shannon
    divergence between the first-half and second-half CATEGORY mix of
    each key (Lin 1991): the categorical member of the drift family —
    ks/w1/cvm/psi watch a numeric column's distribution, this watches
    "did the event-type / source / label mix change?".  JS is bounded
    in [0, ln 2], symmetric, and defined for disjoint supports — the
    reasons it beats raw KL for monitoring.

    With Laplace smoothing (+0.5 per category over the union category
    set C of both halves; p = (c + 0.5)/(n + 0.5·|C|)):

        m  = (p + q)/2
        JS = Σ_c [ p·ln(p/m) + q·ln(q/m) ] / 2

    Each per-category term is one fixed float expression floor-
    quantized to the 12-dp grid and summed as DECIMAL(38,12), the
    repo's quantize-then-derive rule — bit-replayable, partition-
    invariant.  Keys with an empty half emit NULL js_div.

    Scale shape: the drift-family census — a keyed rank window, a
    (key, category) two-phase hash aggregate, one per-key reduce.
    State per key is O(|C|), never O(rows).  No joins, no Python.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(cat_col), col="_c")
    cnt = _census(pts, keys, "_c")
    w_key = Window.partitionBy(*keys)
    tot = (
        cnt.withColumn("_na", F.sum("_ca").over(w_key))
        .withColumn("_nb", F.sum("_cb").over(w_key))
        .withColumn("_nc", F.count("*").over(w_key))
    )
    half_c = F.col("_nc").cast("double") * F.lit(0.5)
    p = (F.col("_ca").cast("double") + F.lit(0.5)) / (
        F.col("_na").cast("double") + half_c
    )
    q = (F.col("_cb").cast("double") + F.lit(0.5)) / (
        F.col("_nb").cast("double") + half_c
    )
    m = (p + q) / F.lit(2.0)
    term = q12((p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0))
    red = tot.groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.max("_nc").cast("int").alias("n_cats"),
        F.sum(term).alias("_js"),
    )
    ok = (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1)
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        "n_cats",
        F.when(ok, F.col("_js").cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("js_div"),
    )


def chi2_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, n_values, chi2, dfree) — the two-sample
    chi-squared homogeneity test between the first and second half of
    each key's history (Pearson 1900 / the 2×V contingency form): the
    CELL-WISE drift test completing the family — KS/CvM/W1 compare
    CDFs (ordered values), chi-squared compares the raw category
    masses, so it reacts to any reshuffling of probability even when
    the CDF changes cancel out.  Over the pooled distinct values v
    with half counts (ca, cb), na = Σca, nb = Σcb:

        χ² = (1/(na·nb)) · Σ_v (ca_v·nb − na·cb_v)² / t_v,  t = ca+cb

    (algebraically the standard Σ(O−E)²/E over both rows).  Each
    per-value term is evaluated as ONE fixed float expression —
    (ca·nb − na·cb) is an exact int64 difference first — then
    floor-quantized to the 6-dp grid and accumulated as
    DECIMAL(38,6), so the sum is partition-invariant and the DuckDB
    replay bit-identical.  ``dfree`` = V − 1.  NULL when a half is
    empty or V < 2.

    Same census shuffle shape as ``ks_drift``: one keyed window pass,
    one (key, value) hash aggregate, a per-key reduce — no joins, no
    Python; a key with a billion points streams through every stage.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    cnt = _census(pts, keys)
    w_key = Window.partitionBy(*keys)
    tot = cnt.withColumn("_na", F.sum("_ca").over(w_key)).withColumn(
        "_nb", F.sum("_cb").over(w_key)
    )
    num = (F.col("_ca") * F.col("_nb") - F.col("_na") * F.col("_cb")).cast(
        "double"
    )
    t = (F.col("_ca") + F.col("_cb")).cast("double")
    term = _floor_round(
        num * num
        / (t * F.col("_na").cast("double") * F.col("_nb").cast("double")),
        6,
    ).cast("decimal(38, 6)")
    red = tot.groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.count("*").cast("long").alias("_m"),
        F.sum(term).alias("_s"),
    )
    ok = (
        (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1) & (F.col("_m") >= 2)
    )
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.col("_m").cast("int").alias("n_values"),
        F.when(ok, F.col("_s").cast("double")).alias("chi2"),
        F.when(ok, (F.col("_m") - 1).cast("long")).alias("dfree"),
    )


def ttest_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, mean_ref, mean_cur, t_stat, dof, cohen_d,
    f_ratio) — Welch's unequal-variance two-sample t test between the
    first and second half of each key's history (Welch 1947,
    Biometrika 34), with the Welch–Satterthwaite effective dof, the
    pooled-sd Cohen's d effect size, and the two-sided variance
    F-ratio s²_ref/s²_cur — the PARAMETRIC location/scale twins of
    ``mannwhitney_drift``/``brown_forsythe`` (means instead of ranks:
    more power under near-normality, no robustness to heavy tails —
    run both, trust agreement).

    Exactness: Σv and Σv² accumulate 12-dp floor-quantized terms in
    DECIMAL(38,12) (associative-exact — partition-invariant and
    SQL-replayable); every statistic is a fixed float expression over
    the two exact sums.  t/dof are NULL when a half has < 2 points or
    both variances vanish; f_ratio is NULL when s²_cur = 0; cohen_d
    when the pooled variance vanishes.

    Scale shape: ONE keyed window pass + ONE (key) hash aggregate —
    no census, no joins, no Python (cheaper than the census family:
    moments need no per-value rows).
    """
    keys = _keys(key)
    pts = _split(
        df, keys, ts_col, tiebreak_col, F.col(value_col).cast("double")
    )
    zero = F.lit(0.0)
    red = pts.groupBy(*keys).agg(
        *_half_counts("n_ref", "n_cur"),
        F.sum(q12(F.when(F.col("_ref"), F.col("_v")).otherwise(zero)))
        .cast("double")
        .alias("_sa"),
        F.sum(q12(F.when(~F.col("_ref"), F.col("_v")).otherwise(zero)))
        .cast("double")
        .alias("_sb"),
        F.sum(
            q12(F.when(F.col("_ref"), F.col("_v") * F.col("_v")).otherwise(zero))
        )
        .cast("double")
        .alias("_qa"),
        F.sum(
            q12(F.when(~F.col("_ref"), F.col("_v") * F.col("_v")).otherwise(zero))
        )
        .cast("double")
        .alias("_qb"),
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    ma = F.col("_sa") / na
    mb = F.col("_sb") / nb
    va = (F.col("_qa") - F.col("_sa") * F.col("_sa") / na) / (na - F.lit(1.0))
    vb = (F.col("_qb") - F.col("_sb") * F.col("_sb") / nb) / (nb - F.lit(1.0))
    both = (F.col("n_ref") >= 2) & (F.col("n_cur") >= 2)
    se2 = va / na + vb / nb
    t_stat = F.when(both & (se2 > F.lit(0.0)), (ma - mb) / F.sqrt(se2))
    dof = F.when(
        both & (se2 > F.lit(0.0)),
        se2
        * se2
        / (
            (va / na) * (va / na) / (na - F.lit(1.0))
            + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
        ),
    )
    pooled = (
        (na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb
    ) / (na + nb - F.lit(2.0))
    cohen_d = F.when(both & (pooled > F.lit(0.0)), (ma - mb) / F.sqrt(pooled))
    f_ratio = F.when(both & (vb > F.lit(0.0)), va / vb)
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.when(F.col("n_ref") >= 1, ma).alias("mean_ref"),
        F.when(F.col("n_cur") >= 1, mb).alias("mean_cur"),
        t_stat.alias("t_stat"),
        dof.alias("dof"),
        cohen_d.alias("cohen_d"),
        f_ratio.alias("f_ratio"),
    )


def energy_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, e_dist, e_stat) — the Székely–Rizzo
    energy distance between the first and second half of each key's
    history (Székely & Rizzo 2004; the statistic behind the e-divisive
    changepoint family):

        D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′|
        e_stat = (n·m/(n+m)) · D²        (the permutation-test scale)

    A CHARACTERISTIC-FUNCTION metric: zero iff the distributions are
    equal, strictly positive otherwise — strictly stronger than any
    single-moment monitor in this family and the natural companion to
    ``wasserstein_drift`` (W1 integrates |ΔCDF|, energy integrates
    ΔCDF² against the value measure).

    Every pairwise-|difference| sum collapses onto the pooled census
    via the gap identity Σ|x−y| = Σ_gaps gap·(below_A·above_B +
    below_B·above_A): ONE pass over the value-ordered census, each
    gap term 12-dp floor-quantized into DECIMAL(38,12), statistics
    one fixed float expression.  NULL when a half is empty.

    Scale shape: the ks_drift census shuffle shape — one keyed window
    pass, one (key, value) hash aggregate, cumulative + lag windows
    riding the same keyed Exchange, a per-key reduce.  No joins, no
    Python.
    """
    keys = _keys(key)
    pts = _split(
        df, keys, ts_col, tiebreak_col, F.col(value_col).cast("double")
    )
    cnt = _census(pts, keys)
    w_cum = cum(keys)
    w_lag = Window.partitionBy(*keys).orderBy("_v")
    w_tot = Window.partitionBy(*keys)
    cdf = (
        cnt.withColumn("_cuma", F.sum("_ca").over(w_cum))
        .withColumn("_cumb", F.sum("_cb").over(w_cum))
        .withColumn("_na", F.sum("_ca").over(w_tot))
        .withColumn("_nb", F.sum("_cb").over(w_tot))
        .withColumn("_nextv", F.lead("_v").over(w_lag))
    )
    gap = F.col("_nextv") - F.col("_v")
    below_a = F.col("_cuma").cast("double")
    below_b = F.col("_cumb").cast("double")
    above_a = (F.col("_na") - F.col("_cuma")).cast("double")
    above_b = (F.col("_nb") - F.col("_cumb")).cast("double")
    zero = F.lit(0.0).cast("double")
    has_gap = F.col("_nextv").isNotNull()
    red = cdf.groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.sum(
            q12(
                F.when(
                    has_gap, gap * (below_a * above_b + below_b * above_a)
                ).otherwise(zero)
            )
        )
        .cast("double")
        .alias("_sab"),
        F.sum(
            q12(F.when(has_gap, gap * below_a * above_a).otherwise(zero))
        )
        .cast("double")
        .alias("_saa"),
        F.sum(
            q12(F.when(has_gap, gap * below_b * above_b).otherwise(zero))
        )
        .cast("double")
        .alias("_sbb"),
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    ok = (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1)
    d2 = (
        F.lit(2.0) * F.col("_sab") / (na * nb)
        - F.lit(2.0) * F.col("_saa") / (na * na)
        - F.lit(2.0) * F.col("_sbb") / (nb * nb)
    )
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.when(ok, d2).alias("e_dist"),
        F.when(ok, na * nb / (na + nb) * d2).alias("e_stat"),
    )


def hodges_lehmann_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, n_pairs, hl_shift, cliffs_delta) — the
    EFFECT-SIZE pair completing the drift family: ``mannwhitney_drift``
    answers "did the location move?", this answers "by HOW MUCH" with
    the two robust classics on the same first-half/second-half split.

    * Hodges & Lehmann 1963: Δ̂ = median of all n_ref·n_cur pairwise
      differences (cur − ref) — the shift estimator dual to the
      rank-sum test, ~95% Gaussian efficiency yet a 29% breakdown
      point (one spike cannot drag it the way the mean-difference
      would).
    * Cliff 1993: δ = (#(cur > ref) − #(cur < ref)) / (n_ref·n_cur)
      ∈ [−1, 1] — the ordinal effect size (= 2·AUC − 1 with ties
      counted zero), the standard "is the shift practically large?"
      readout next to the U test's p-value.

    Exactness protocol: per-key value censuses for the two halves
    (exact integer counts), the pairwise-difference census joins them
    per key — each distinct difference d carries exact weight
    Σ ca·cb (int64: counts ≤ 2³¹ per side) — and the interpolated
    median comes off the weighted census as order statistics
    (m2 = d_(lo) + d_(hi), lo = ⌊(N+1)/2⌋, hi = ⌊N/2⌋+1 over the
    cumulative weights, the ``brown_forsythe`` protocol), so
    ``hl_shift`` = m2/2 and δ = (gt − lt)/N are each ONE fixed float
    expression over exact integers — bit-identical in the DuckDB
    replay.

    Scale shape: the same one-window + census aggregates as
    ``ks_drift``, then a per-key census×census equi-join whose output
    is bounded by |ref value domain|·|cur value domain| PER KEY — the
    quantized-domain² bound (NOT n²; e.g. a 6-dp grid over a [0,100]
    metric caps it at ~10⁸ rows per key worst-case, and real censuses
    are far smaller).  Quantize ``value_col`` before calling (the
    contract passes an integer grid): it must be integral — an integer
    type or a scale-0 DECIMAL — else ValueError, since the census
    casts it to BIGINT.  All reduces ride the key partitioning; zero
    Python.

    NULL hl_shift/cliffs_delta when either half is empty.
    """
    vt = df.select(value_col).schema[0].dataType
    if not (
        isinstance(vt, IntegralType)
        or (isinstance(vt, DecimalType) and vt.scale == 0)
    ):
        raise ValueError(
            f"value_col {value_col!r} must be integral (quantize it "
            f"first), got {vt.simpleString()}"
        )
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col).cast("long"))

    ref = (
        pts.where(F.col("_ref"))
        .groupBy(*keys, "_v")
        .agg(F.count("*").cast("long").alias("_ca"))
        .withColumnRenamed("_v", "_va")
    )
    cur = (
        pts.where(~F.col("_ref"))
        .groupBy(*keys, "_v")
        .agg(F.count("*").cast("long").alias("_cb"))
        .withColumnRenamed("_v", "_vb")
    )

    # pairwise-difference census: |ref domain| x |cur domain| per key
    diffs = (
        ref.join(cur, keys)
        .select(
            *keys,
            (F.col("_vb") - F.col("_va")).alias("_d"),
            (F.col("_ca") * F.col("_cb")).alias("_w"),
        )
        .groupBy(*keys, "_d")
        .agg(F.sum("_w").cast("long").alias("_w"))
    )

    w_cum = cum(keys, "_d")
    w_tot = Window.partitionBy(*keys)
    ranked = diffs.withColumn("_cum", F.sum("_w").over(w_cum)).withColumn(
        "_np", F.sum("_w").over(w_tot)
    )
    lo_rank = F.floor((F.col("_np") + 1) / 2)
    hi_rank = F.floor(F.col("_np") / 2) + 1
    red = ranked.groupBy(*keys).agg(
        F.max("_np").cast("long").alias("n_pairs"),
        (
            F.min(F.when(F.col("_cum") >= lo_rank, F.col("_d"))).cast("long")
            + F.min(F.when(F.col("_cum") >= hi_rank, F.col("_d"))).cast("long")
        ).alias("_m2"),
        F.sum(F.when(F.col("_d") > 0, F.col("_w")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_gt"),
        F.sum(F.when(F.col("_d") < 0, F.col("_w")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_lt"),
    )

    halves = pts.groupBy(*keys).agg(*_half_counts("n_ref", "n_cur"))
    out = halves.join(red, keys, "left")
    return out.select(
        *keys,
        "n_ref",
        "n_cur",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
        (F.col("_m2").cast("double") / F.lit(2.0)).alias("hl_shift"),
        (
            (F.col("_gt") - F.col("_lt")).cast("double")
            / F.col("n_pairs").cast("double")
        ).alias("cliffs_delta"),
    )


def ad_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, a2) — the two-sample Anderson–Darling
    test (midrank/tie version, Scholz & Stephens 1987 eq. 7 with
    k = 2) between the first and second half of each key's history:
    the TAIL-WEIGHTED member completing the drift family — ks_drift
    is the worst CDF gap, cvm_drift the integrated gap, ad_drift the
    integrated gap weighted by 1/(F(1−F)) so discrepancies in the
    distribution TAILS count fully (the classic reason AD beats
    KS/CvM on tail drift: variance blow-ups, new extreme regimes).

        A² = (N−1)/N · Σ_i (1/n_i) Σ_j (l_j/N)·(N·M_ij − n_i·B_j)²
                                        / (B_j(N−B_j) − N·l_j/4)

    over distinct pooled values j (pooled tie count l_j, midrank
    cumulatives B_j = cum_before + l_j/2 and M_ij likewise).  ``a2``
    is the raw statistic (for k = 2, reject at ~2.49 under the
    Scholz–Stephens T_m table at α = 0.05 for moderate n; the exact
    standardization needs harmonic sums — left to the caller as a
    table lookup, like the ADF/MacKinnon split elsewhere).

    Exactness protocol: doubled midrank cumulatives 2B_j, 2M_ij are
    exact integers, and scaling numerator and denominator by 4 makes
    every term a ratio of exact DECIMAL(38,0) integers:
    X_ij = N·2M_ij − n_i·2B_j, den4_j = 2B_j·(2N−2B_j) − N·l_j, with
    term = l_j·X²/den4 ONE fixed float expression, floor-quantized to
    the 12-dp grid and accumulated as DECIMAL(38,12) (order-free);
    A² is then ONE fixed float expression — bit-identical in the
    DuckDB replay.  den4 = 0 only when l_j = N (a single distinct
    value, where X = 0 too) — the term is skipped and A² = 0.

    Same split protocol and shuffle shape as ``ks_drift``/
    ``mannwhitney_drift``: one keyed window pass, one (key, value)
    census aggregate, cumulative windows and the final reduce riding
    the same partitioning — no joins, no Python.  NULL a2 when a
    half is empty.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    cnt = _census(pts, keys).withColumn("_t", F.col("_ca") + F.col("_cb"))
    w_cum = cum(keys)
    w_tot = Window.partitionBy(*keys)
    ranked = (
        cnt.withColumn("_cuma", F.sum("_ca").over(w_cum))
        .withColumn("_cumb", F.sum("_cb").over(w_cum))
        .withColumn("_cumt", F.sum("_t").over(w_cum))
        .withColumn("_na", F.sum("_ca").over(w_tot))
        .withColumn("_nb", F.sum("_cb").over(w_tot))
    )

    d0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nn = F.col("_na") + F.col("_nb")
    b2 = 2 * F.col("_cumt") - F.col("_t")
    ma2 = 2 * F.col("_cuma") - F.col("_ca")
    mb2 = 2 * F.col("_cumb") - F.col("_cb")
    xa = d0(nn) * d0(ma2) - d0(F.col("_na")) * d0(b2)
    xb = d0(nn) * d0(mb2) - d0(F.col("_nb")) * d0(b2)
    den4 = d0(b2) * (d0(2 * nn) - d0(b2)) - d0(nn) * d0(F.col("_t"))

    def _term(x):
        raw = (
            F.col("_t").cast("double")
            * x.cast("double")
            * x.cast("double")
            / den4.cast("double")
        )
        return F.when(
            den4 > F.lit(0).cast("decimal(38,0)"), _floor_round(raw, 12)
        ).otherwise(F.lit(0.0)).cast("decimal(38,12)")

    terms = ranked.select(
        *keys,
        F.col("_ca"),
        F.col("_cb"),
        _term(xa).alias("_ta"),
        _term(xb).alias("_tb"),
    )
    red = terms.groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        F.sum("_ta").alias("_sa"),
        F.sum("_tb").alias("_sb"),
    )

    nad = F.col("n_ref").cast("double")
    nbd = F.col("n_cur").cast("double")
    nd = F.col("n_ref").cast("double") + F.col("n_cur").cast("double")
    a2 = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        (nd - F.lit(1.0))
        / nd
        * (
            F.col("_sa").cast("double") / (nd * nad)
            + F.col("_sb").cast("double") / (nd * nbd)
        ),
    )
    return red.select(*keys, "n_ref", "n_cur", a2.alias("a2"))


def ansari_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, w, z) — the two-sample Ansari–Bradley
    SCALE test (Ansari & Bradley 1960, AMS 31) between the first and
    second half of each key's history: the DISPERSION complement of
    ``mannwhitney_drift``'s location test and ``ks_drift``'s shape
    test ("did the variance move even though the level didn't?" — the
    classic symptom of a sensor losing calibration or a token
    distribution flattening).

    Scores from both ends inward: a(i) = min(i, N+1−i) over the
    pooled order, tied observations averaging the scores of their run
    (NOT the score of their midrank — a(·) is piecewise linear with a
    peak, so run-averaging is the correct tie treatment).  W = Σ
    scores of the CURRENT half; small scores sit at the extremes, so
    z < 0 ⇒ the current half is MORE dispersed.  z uses the general
    linear-rank-statistic variance (exact under ties, reducing to the
    published even/odd-N forms when untied):

        E[W] = n_cur·Σa/N,
        Var[W] = n_ref·n_cur·(N·Σa² − (Σa)²) / (N²(N−1)).

    Exactness protocol: per tie run [lo, hi] the score sum
    S = Σ_{i=lo}^{hi} a(i) is an EXACT integer via the split at
    m = ⌊(N+1)/2⌋ (two triangular sums in DECIMAL(38,0)); the doubled
    mean score 2S/t is rational, so it is quantized onto the 12-dp
    grid (the ``psi_drift`` quantize-then-derive rule) before the
    DECIMAL(38,12) accumulations W2 = Σ c_cur·a2, T1 = Σ t·a2 and the
    6-dp-quantized T2 = Σ t·a2² terms; z and w are then ONE fixed
    float expression each — bit-identical in the DuckDB replay.

    Same time-split protocol and shuffle shape as ``ks_drift`` /
    ``mannwhitney_drift``: one keyed window pass, one (key, value)
    census aggregate, per-key reduces riding the same partitioning —
    no joins, no Python.  z is NULL when a half is empty, N < 2, or
    every value is tied (Var = 0).
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    ranked = _ranked(pts, keys)
    # doubled mean score of the run, 12-dp-quantized (psi rule)
    a2 = q12(
        F.lit(2.0) * _ansari_run_sum().cast("double")
        / F.col("_t").cast("double")
    )
    red = ranked.withColumn("_a2", a2).groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        *_lrs_sums("_a2", "_w2", "decimal(38,0)"),
    )
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        (F.col("_w2").cast("double") / F.lit(2.0)).alias("w"),
        _lrs_z("_w2").alias("z"),
    )


def kuiper_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, vplus_num, vminus_num, v_num, v, lam,
    p_bound) — the two-sample Kuiper test (Kuiper 1960) between the
    first and second half of each key's history: the
    rotation-invariant twin of ``ks_drift``.  V = D⁺ + D⁻ weighs the
    two CDF excursion directions EQUALLY, so it keeps full power at
    the distribution's tails and on circular/wrapped domains
    (time-of-day, phase) where KS loses sensitivity away from its
    single sup point — the right drift test for daily-cycle signals.

    Exactness protocol (``ks_drift``): the census signed difference
    d_x = cumB·nA − cumA·nB is an exact integer; D⁺ = max(0, max d),
    D⁻ = max(0, −min d) (zero is always attainable — both CDFs agree
    before the first and after the last value), so ``v_num`` =
    vplus_num + vminus_num is the exact-integer numerator and
    V = v_num/(nA·nB).  ``lam`` = (√ne + 0.155 + 0.24/√ne)·V (the
    Stephens 1970 finite-n form, ne = nA·nB/(nA+nB)) and ``p_bound``
    the leading term of the Kuiper series min(1, 2(4λ²−1)e^(−2λ²)),
    pinned to 1 for λ < 0.4 where the asymptotic series is invalid
    (the Numerical-Recipes convention).

    Same time-split protocol and shuffle shape as ``ks_drift`` — one
    keyed window pass, one (key, value) census, per-key reduces on
    the same partitioning; no joins, zero Python.  Statistics are
    NULL when either half is empty.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    d_signed = F.col("_cumb") * F.col("_na") - F.col("_cuma") * F.col("_nb")
    red = _cdf_totals(pts, keys).groupBy(*keys).agg(
        F.max("_na").alias("n_ref"),
        F.max("_nb").alias("n_cur"),
        F.greatest(F.max(d_signed), F.lit(0)).cast("long").alias("vplus_num"),
        F.greatest(-F.min(d_signed), F.lit(0)).cast("long").alias(
            "vminus_num"
        ),
    )
    red = red.withColumn(
        "v_num", (F.col("vplus_num") + F.col("vminus_num")).cast("long")
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    v = F.col("v_num").cast("double") / (na * nb)
    ne = na * nb / (na + nb)
    lam = (F.sqrt(ne) + F.lit(0.155) + F.lit(0.24) / F.sqrt(ne)) * v
    lam2 = lam * lam
    p_raw = F.lit(2.0) * (F.lit(4.0) * lam2 - F.lit(1.0)) * F.exp(
        F.lit(-2.0) * lam2
    )
    ok = (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1)
    nulld = F.lit(None).cast("double")
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        "vplus_num",
        "vminus_num",
        "v_num",
        F.when(ok, v).otherwise(nulld).alias("v"),
        F.when(ok, lam).otherwise(nulld).alias("lam"),
        F.when(
            ok,
            F.when(lam < F.lit(0.4), F.lit(1.0)).otherwise(
                F.least(F.lit(1.0), F.greatest(F.lit(0.0), p_raw))
            ),
        )
        .otherwise(nulld)
        .alias("p_bound"),
    )


def mood_scale_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, t, z) — Mood's two-sample SCALE test
    (Mood 1954, AMS 25) between the first and second half of each
    key's history: scores a(i) = (i − (N+1)/2)² grow QUADRATICALLY
    from the centre out, so it weights genuine tail spread harder
    than ``ansari_drift``'s linear min(i, N+1−i) scores — the more
    powerful of the two under light-tailed alternatives, the more
    outlier-sensitive under heavy ones (run both; disagreement is
    itself diagnostic).  T = Σ scores of the CURRENT half; z > 0 ⇒
    the current half is MORE dispersed (opposite sign convention to
    ansari, where extremes score LOW).

    Tied observations average the scores of their run (the ``ansari``
    rule — a(·) is nonlinear, so run-averaging ≠ score of midrank).
    z uses the same general linear-rank-statistic variance, exact
    under ties.

    Exactness protocol: per tie run [lo, hi] the QUADRUPLED score sum
    4S = Σ (2i − (N+1))² is an exact integer via the square-pyramidal
    closed form 4Σi² − 4(N+1)Σi + t(N+1)² in DECIMAL(38,0); the
    quadrupled mean score 4S/t is 12-dp-quantized (psi rule) before
    the DECIMAL(38,12) accumulations (operand widths (13,0)×(24,12)
    so the product precision is exactly 38 — the
    ``conover_squared_ranks`` precision-loss guard); z and t are ONE
    fixed float expression each — bit-identical in the DuckDB
    replay.

    Same time-split protocol and census shuffle shape as
    ``ansari_drift``; no joins, zero Python.  z is NULL when a half
    is empty, N < 2, or every value is tied.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    ranked = _ranked(pts, keys)

    d0 = "decimal(38,0)"
    lo = (F.col("_cumt") - F.col("_t") + 1).cast(d0)
    hi = F.col("_cumt").cast(d0)
    t0 = F.col("_t").cast(d0)
    np1 = (F.col("_N") + 1).cast(d0)
    # 4S = sum_{i=lo}^{hi} (2i - (N+1))^2
    #    = 4*sum i^2 - 4*(N+1)*sum i + t*(N+1)^2, all exact
    sum_i = (hi * (hi + 1) - (lo - 1) * lo) / 2
    sum_i2 = (
        hi * (hi + 1) * (2 * hi + 1) - (lo - 1) * lo * (2 * lo - 1)
    ) / 6
    s4 = (4 * sum_i2 - 4 * np1 * sum_i + t0 * np1 * np1).cast(d0)
    a4 = _floor_round(
        s4.cast("double") / F.col("_t").cast("double"), 12
    ).cast("decimal(24,12)")
    red = ranked.withColumn("_a4", a4).groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        *_lrs_sums("_a4", "_w4", "decimal(13,0)"),
    )
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        (F.col("_w4").cast("double") / F.lit(4.0)).alias("t"),
        _lrs_z("_w4").alias("z"),
    )


def lepage_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, z_w, z_ab, l_stat) — the Lepage omnibus
    test (Lepage 1971, Biometrika 58) between the first and second
    half of each key's history: L = z_W² + z_AB², the Wilcoxon
    LOCATION z and the Ansari–Bradley SCALE z combined —
    asymptotically χ²(2) under H0, with power against a level shift,
    a dispersion change, or both at once.  The single-number drift
    gate when you don't know which way a signal will break; the
    component z's say which it was.

    Both statistics are linear rank statistics over the SAME
    (key, value) census, so the operator computes them in ONE census
    pass + ONE per-key reduce — strictly cheaper than running
    ``mannwhitney_drift`` + ``ansari_drift`` separately.

    Exactness protocol: doubled Wilcoxon midranks and rank-sums exact
    int64 (the ``mannwhitney_drift`` machinery, tie-corrected
    variance from the exact tie cube); Ansari run scores exact
    triangular sums, 12-dp run means, (13,0)×(24,12) products and
    the structural degeneracy guard (the ``ansari_drift`` /
    ``conover`` machinery); each z is ONE fixed float expression and
    L literally z_W·z_W + z_AB·z_AB — bit-identical in the DuckDB
    replay.

    Same time-split protocol and census shuffle shape as the rest of
    the drift family; no joins, zero Python.  ``l_stat`` is NULL when
    either component is (empty half, N < 2, or all values tied).
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    ranked = _ranked(pts, keys)
    # Ansari run-mean scores, 12-dp-quantized as decimal(24,12)
    a2 = _floor_round(
        F.lit(2.0) * _ansari_run_sum().cast("double")
        / F.col("_t").cast("double"),
        12,
    ).cast("decimal(24,12)")
    red = ranked.withColumn("_a2", a2).groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        *_wilcoxon_sums(),
        *_lrs_sums("_a2", "_w2", "decimal(13,0)"),
    )

    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    nd = na + nb
    u2 = (F.col("_r2b") - F.col("n_cur") * (F.col("n_cur") + 1)).cast("long")
    u2d = u2.cast("double")
    td = F.col("_tie").cast("double")
    var_u = (na * nb / F.lit(12.0)) * (
        (nd + F.lit(1.0)) - td / (nd * (nd - F.lit(1.0)))
    )
    z_w = F.when(
        (F.col("n_ref") >= 1)
        & (F.col("n_cur") >= 1)
        & (F.col("_nv") >= 2)
        & (var_u > F.lit(0.0)),
        (u2d - na * nb) / (F.lit(2.0) * F.sqrt(var_u)),
    )
    z_ab = _lrs_z("_w2")
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        z_w.alias("z_w"),
        z_ab.alias("z_ab"),
        F.when(
            z_w.isNotNull() & z_ab.isNotNull(), z_w * z_w + z_ab * z_ab
        ).alias("l_stat"),
    )


def cucconi_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, u, v, c_stat) — the Cucconi omnibus test
    (Cucconi 1968; Marozzi 2009 J. Nonparam. Stat. for the modern
    treatment) between the first and second half of each key's
    history: the OTHER location+scale omnibus — where ``lepage_drift``
    adds two separate test z's, Cucconi builds U from squared ranks
    and V from squared CONTRARY ranks of the current half and
    combines them through their exact negative correlation ρ:

        U = (6·ΣR_j² − n_cur(N+1)(2N+1)) / σ,
        V = (6·Σ(N+1−R_j)² − n_cur(N+1)(2N+1)) / σ,
        σ² = n_ref·n_cur(N+1)(2N+1)(8N+11)/5,
        ρ  = 2(N²−4)/((2N+1)(8N+11)) − 1,
        C  = (U² + V² − 2ρUV) / (2(1−ρ²))  ~  exp(−C) p-value.

    Often more powerful than Lepage under heavy tails (Marozzi's
    simulations); running both and comparing is itself a diagnostic.

    Exactness protocol: with doubled midranks 2R every moment is an
    exact DECIMAL(38,0) integer — 4·ΣR² = Σ(2R)², contrary doubled
    ranks 2R' = 2(N+1) − 2R, and the scaled numerators
    U4 = 6·Σ(2R_j)² − 4·n_cur(N+1)(2N+1) (so U = U4/(4σ)); U, V, ρ
    and C are each ONE fixed float expression — bit-identical in the
    DuckDB replay.  (Under ties the Cucconi moments are the no-tie
    ones — the published test; midranks keep the statistic
    well-defined, the null calibration is approximate, standard
    practice.)

    Same time-split protocol and census shuffle shape as the drift
    family; no joins, zero Python.  Statistics are NULL when a half
    is empty, N < 3, or every value is tied.
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    ranked = _ranked(pts, keys)
    d0 = "decimal(38,0)"
    r2 = mid2()
    r2c = (2 * (F.col("_N") + 1)).cast(d0) - r2
    red = ranked.groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        F.sum(F.col("_cb").cast(d0) * r2 * r2).alias("_sr4"),
        F.sum(F.col("_cb").cast(d0) * r2c * r2c).alias("_sc4"),
        F.count("*").cast("long").alias("_nv"),
    )

    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    nd = na + nb
    e4 = (
        F.lit(4.0)
        * nb
        * (nd + F.lit(1.0))
        * (F.lit(2.0) * nd + F.lit(1.0))
    )
    sig = F.sqrt(
        na
        * nb
        * (nd + F.lit(1.0))
        * (F.lit(2.0) * nd + F.lit(1.0))
        * (F.lit(8.0) * nd + F.lit(11.0))
        / F.lit(5.0)
    )
    u = (F.lit(6.0) * F.col("_sr4").cast("double") - e4) / (
        F.lit(4.0) * sig
    )
    v = (F.lit(6.0) * F.col("_sc4").cast("double") - e4) / (
        F.lit(4.0) * sig
    )
    rho = F.lit(2.0) * (nd * nd - F.lit(4.0)) / (
        (F.lit(2.0) * nd + F.lit(1.0)) * (F.lit(8.0) * nd + F.lit(11.0))
    ) - F.lit(1.0)
    c_stat = (u * u + v * v - F.lit(2.0) * rho * u * v) / (
        F.lit(2.0) * (F.lit(1.0) - rho * rho)
    )
    ok = (
        (F.col("n_ref") >= 1)
        & (F.col("n_cur") >= 1)
        & (F.col("n_ref") + F.col("n_cur") >= 3)
        & (F.col("_nv") >= 2)
    )
    nulld = F.lit(None).cast("double")
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.when(ok, u).otherwise(nulld).alias("u"),
        F.when(ok, v).otherwise(nulld).alias("v"),
        F.when(ok, c_stat).otherwise(nulld).alias("c_stat"),
    )


def fligner_policello_drift(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_ref, n_cur, p2_sum, q2_sum, u_stat) — the
    Fligner–Policello robust rank-order test (Fligner & Policello
    1981, JASA 76) between the first and second half of each key's
    history: the rank BEHRENS–FISHER solution — ``mannwhitney_drift``
    assumes the two halves share a shape and differ only in location;
    FP tests P(X < Y) = ½ with NO equal-variance assumption, by
    studentizing the placement sums with their own empirical
    variances:

        Û = (ΣQ_j − ΣP_i) / (2·√(V_x + V_y + P̄·Q̄)),

    P_i = midplacement of ref point i among the current half, Q_j
    vice versa, V = Σ(placement − mean)² per half.  The drift monitor
    to trust when the scale monitors (ansari/mood) are ALSO firing —
    MWU's z is anticonservative exactly then.

    Exactness protocol: doubled midplacements 2P_v = 2·cumB − c_B are
    exact integers off the same census cumulative the whole family
    uses; doubled placement sums exact DECIMAL(38,0); the doubled
    means are 12-dp-quantized (psi rule) so the quadrupled variance
    terms Σc·(2P_v − 2P̄)² accumulate 6-dp-exactly; Û is ONE fixed
    float expression — bit-identical in the DuckDB replay.

    Same time-split protocol and census shuffle shape as the drift
    family; no joins, zero Python.  ``u_stat`` is NULL when a half is
    empty or the studentizer is 0 (placements constant at an
    extreme — fully separated halves; all-TIED halves instead give a
    well-defined U = 0, since P̄·Q̄ > 0 studentizes the zero
    numerator).
    """
    keys = _keys(key)
    pts = _split(df, keys, ts_col, tiebreak_col, F.col(value_col))
    cnt = _census(pts, keys)
    w_cum = cum(keys)
    ranked = (
        cnt.withColumn("_cuma", F.sum("_ca").over(w_cum))
        .withColumn("_cumb", F.sum("_cb").over(w_cum))
    )
    # doubled midplacements of each half's points among the OTHER half
    p2 = (2 * F.col("_cumb") - F.col("_cb")).cast("long")  # ref among cur
    q2 = (2 * F.col("_cuma") - F.col("_ca")).cast("long")  # cur among ref
    ranked = ranked.withColumn("_p2", p2).withColumn("_q2", q2)

    d0 = "decimal(38,0)"
    sums = ranked.groupBy(*keys).agg(
        F.sum("_ca").cast("long").alias("n_ref"),
        F.sum("_cb").cast("long").alias("n_cur"),
        F.sum(F.col("_ca").cast(d0) * F.col("_p2").cast(d0)).alias("_sp2"),
        F.sum(F.col("_cb").cast(d0) * F.col("_q2").cast(d0)).alias("_sq2"),
    )
    pbar2 = _floor_round(
        F.col("_sp2").cast("double") / F.col("n_ref").cast("double"), 12
    ).cast("decimal(24,12)")
    qbar2 = _floor_round(
        F.col("_sq2").cast("double") / F.col("n_cur").cast("double"), 12
    ).cast("decimal(24,12)")
    sums = sums.withColumn("_pb2", pbar2).withColumn("_qb2", qbar2)

    # second pass over the census rows with the 1-row means broadcast
    # back (the k-row-reduce idiom — the census is the bounded frame)
    j = ranked.join(
        F.broadcast(
            sums.select(*keys, "n_ref", "n_cur", "_pb2", "_qb2")
        ),
        keys,
    )
    dxp = F.col("_p2").cast("decimal(24,12)") - F.col("_pb2")
    dxq = F.col("_q2").cast("decimal(24,12)") - F.col("_qb2")
    vx_t = _floor_round(
        F.col("_ca").cast("double")
        * dxp.cast("double")
        * dxp.cast("double"),
        6,
    ).cast("decimal(38,6)")
    vy_t = _floor_round(
        F.col("_cb").cast("double")
        * dxq.cast("double")
        * dxq.cast("double"),
        6,
    ).cast("decimal(38,6)")
    red = j.groupBy(*keys).agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum(F.col("_ca").cast(d0) * F.col("_p2").cast(d0)).alias("_sp2"),
        F.sum(F.col("_cb").cast(d0) * F.col("_q2").cast(d0)).alias("_sq2"),
        F.sum(vx_t).alias("_vx4"),
        F.sum(vy_t).alias("_vy4"),
    )

    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    sp2d = F.col("_sp2").cast("double")
    sq2d = F.col("_sq2").cast("double")
    # U = ((2SQ - 2SP)/2) / (2*sqrt(Vx + Vy + Pbar*Qbar))
    #   = (2SQ - 2SP) / (4*sqrt((4Vx + 4Vy + (2Pb)(2Qb))/4))
    #   = (2SQ - 2SP) / (2*sqrt(vx4 + vy4 + (2Pb)(2Qb)))
    stud = (
        F.col("_vx4").cast("double")
        + F.col("_vy4").cast("double")
        + (sp2d / na) * (sq2d / nb)
    )
    u = F.when(
        (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1) & (stud > F.lit(0.0)),
        (sq2d - sp2d) / (F.lit(2.0) * F.sqrt(stud)),
    )
    return red.select(
        *keys,
        "n_ref",
        "n_cur",
        F.col("_sp2").cast("long").alias("p2_sum"),
        F.col("_sq2").cast("long").alias("q2_sum"),
        u.alias("u_stat"),
    )
