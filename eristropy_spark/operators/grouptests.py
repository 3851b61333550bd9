"""K-sample and blocked rank tests across groups, the corpus-level
complements to the two-sample drift monitors in ``operators/drift.py``
(none exists in the reference): location (``kruskal_wallis``,
``mood_median``), scale (``brown_forsythe``, ``conover_squared_ranks``),
ordered trend (``jonckheere_terpstra``; binary ``cochran_armitage``)
and complete blocks (``friedman_page``, ``quade``; binary
``cochran_q``).  One row per group or treatment, with the global
statistic repeated on each.

* ``kruskal_wallis`` — the Kruskal & Wallis 1952 (JASA 47) rank test:
  do the k sources share one value distribution?  H with the standard
  tie correction H/C, C = 1 − Σ(t³−t)/(N³−N); the k-group extension
  of ``mannwhitney_drift``'s two-sample U (identical midrank
  machinery).
* ``brown_forsythe`` — the Brown & Forsythe 1974 (JASA 69) robust
  Levene test: one-way ANOVA on z = |x − median(group)|, the standard
  variance-homogeneity screen (median-centered, so heavy tails don't
  fake a rejection the way mean-centered Levene does).

Protocol (the shared pieces are in ``functions/ranks``):

* Census: a k-group test reduces its input to ONE (group, value) count
  census.  NULL values are dropped (the SQL aggregate rule), so a
  missing value is neither counted nor ranked.
* Doubled midranks keep ties integral: 2r = 2·cum_t − t + 1 for a
  pooled census run of t values ending at cumulative count cum_t,
  2r = 2·rank + t − 1 for a cell inside its block.
* Complete blocks: a blocked test takes CELL data, one row per (block,
  treatment), and keeps a block iff it holds EXACTLY one row per
  global treatment; a NULL-valued cell is absent, so its block goes.

Exactness: counts, doubled rank sums R2_j = Σ c·2r, the tie cube
Σ(t³−t), doubled medians m2 (the k-or-k+½ interpolated median of
integers, so 2·median is integral) and doubled deviations
z2 = |2v − m2| are ALL exact integers in DECIMAL(38,0); each per-group
rational term (R2_j²/n_j, T_j²/n_j) is floor-quantized to the 6-dp
grid and accumulated as DECIMAL(38,6) (associative-exact, so
partition- and order-invariant), and each statistic is ONE fixed float
expression — bit-identical in the DuckDB replay.

Scale shape: one (group, value) hash-aggregate census (map-side
combined — rows after it are bounded by |groups|·|value domain|, NOT
by N), windows over the census keyed by value or group, and a k-row
global reduce broadcast back onto the k output rows.  The one
unkeyed window (cumulative tie counts over distinct values) runs on
the DISTINCT-VALUE census — cardinality = the quantized value domain
(e.g. 2³² for int32 tokens, in practice ≪ 10⁶), independent of row
count, the same bound ``mannwhitney_drift`` carries per key.  Zero
Python, no join wider than the census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.ranks import (
    census, complete_blocks, first_of_run, group_median2, mid2, midrank2,
    pooled_median2, pooled_ties, q12,
)
from eristropy_spark.operators.changepoint import _floor_round

__all__ = [
    "kruskal_wallis",
    "brown_forsythe",
    "friedman_page",
    "cochran_q",
    "jonckheere_terpstra",
    "mood_median",
    "cochran_armitage",
    "quade",
    "conover_squared_ranks",
]

_D0 = "decimal(38,0)"
_D6 = "decimal(38,6)"


def _sq_over_n6(s):
    """A group's rational term s²/n, 6-dp floor-quantized as
    DECIMAL(38,6) so that its sum over groups is exact."""
    return _floor_round(
        F.col(s).cast("double") * F.col(s).cast("double")
        / F.col("n").cast("double"),
        6,
    ).cast(_D6)


def _binary(value_col, msg):
    """``value_col`` as the 0/1 long ``_x``.  Validation is IN-PLAN:
    raise_error rides the single pass, no second scan just to
    validate."""
    x = F.col(value_col).cast("long")
    return F.when(x.isin(0, 1), x).otherwise(
        F.raise_error(F.concat(F.lit(msg), x.cast("string")))
    ).alias("_x")


def _ranked_blocks(df, block_col, treat_col, value_col):
    """The complete blocks of the (block, treatment, _v) cells, each
    cell with its within-block doubled midrank ``_r2``.  A NULL value
    is an absent cell, so its block is incomplete."""
    cells = df.select(
        F.col(block_col).alias("block"),
        F.col(treat_col).alias("treatment"),
        F.col(value_col).cast("long").alias("_v"),
    ).where(F.col("_v").isNotNull())
    return complete_blocks(cells).withColumn("_r2", midrank2(["block"], "_v"))


def kruskal_wallis(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """(group, n, r2_sum, mean_rank, h, h_adj, k, n_total) — one row
    per group, with the global statistic repeated on each row (the
    contract-friendly layout: the per-group rank means ARE the
    effect-size readout, H the test).

    ``h`` is NULL when k < 2 or N < 2; ``h_adj`` = H/C is additionally
    NULL when every value is tied (C = 0).
    """
    t13 = F.col("_t").cast(_D0)
    w_glob = Window.partitionBy()
    cnt = (
        pooled_ties(census(df, group_col, value_col), "_v")
        .withColumn("_rep", first_of_run("_v"))
        .withColumn(
            "_tie",
            F.sum(F.when(F.col("_rep"), t13 * t13 * t13 - t13)).over(w_glob),
        )
    )
    grp = cnt.groupBy("group").agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(F.col("_c").cast(_D0) * mid2("long").cast(_D0)).alias("_r2"),
        # constant on every input row (global window): first() is safe
        F.first("_tie").alias("_tie"),
    )
    glob = (
        grp.withColumn("k", F.count("*").over(w_glob).cast("int"))
        .withColumn("n_total", F.sum("n").over(w_glob).cast("long"))
        .withColumn("_s", F.sum(_sq_over_n6("_r2")).over(w_glob))
    )

    nd = F.col("n_total").cast("double")
    h = F.when(
        (F.col("k") >= 2) & (F.col("n_total") >= 2),
        F.lit(3.0) * F.col("_s").cast("double") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0)),
    )
    c_tie = F.lit(1.0) - F.col("_tie").cast("double") / (nd * nd * nd - nd)
    return glob.select(
        "group",
        "n",
        F.col("_r2").cast("long").alias("r2_sum"),
        (
            F.col("_r2").cast("double") / (F.lit(2.0) * F.col("n").cast("double"))
        ).alias("mean_rank"),
        h.alias("h"),
        F.when(h.isNotNull() & (c_tie > F.lit(0.0)), h / c_tie).alias("h_adj"),
        "k",
        "n_total",
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """(group, n, median, z_mean, w_stat, df1, df2) — one row per
    group with the global Brown–Forsythe W repeated on each row.

    W = ((N−k)/(k−1)) · SSB(z)/SSW(z) with z = |x − group median|;
    NULL when k < 2, N ≤ k, or SSW = 0 (all groups internally
    constant around their medians).
    """
    z = group_median2(census(df, group_col, value_col)).withColumn(
        "_z2",
        F.abs(2 * F.col("_v").cast("long") - F.col("_m2")).cast("long"),
    )
    grp = z.groupBy("group").agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_m2").alias("_m2"),
        F.sum(F.col("_c").cast(_D0) * F.col("_z2").cast(_D0)).alias("_tj"),
        F.sum(
            F.col("_c").cast(_D0) * F.col("_z2").cast(_D0) * F.col("_z2").cast(_D0)
        ).alias("_uj"),
    )

    tb = _sq_over_n6("_tj")
    tw = _floor_round(
        F.col("_uj").cast("double")
        - F.col("_tj").cast("double") * F.col("_tj").cast("double")
        / F.col("n").cast("double"),
        6,
    ).cast(_D6)
    w_glob = Window.partitionBy()
    glob = (
        grp.withColumn("_k", F.count("*").over(w_glob).cast("int"))
        .withColumn("_nt", F.sum("n").over(w_glob).cast("long"))
        .withColumn("_g", F.sum("_tj").over(w_glob))
        .withColumn("_ssb4", F.sum(tb).over(w_glob))
        .withColumn("_ssw4", F.sum(tw).over(w_glob))
    )
    ntd = F.col("_nt").cast("double")
    kd = F.col("_k").cast("double")
    ssb = F.col("_ssb4").cast("double") - F.col("_g").cast("double") * F.col(
        "_g"
    ).cast("double") / ntd
    w_stat = F.when(
        (F.col("_k") >= 2)
        & (F.col("_nt") > F.col("_k"))
        & (F.col("_ssw4").cast("double") > F.lit(0.0)),
        (ntd - kd) / (kd - F.lit(1.0)) * ssb / F.col("_ssw4").cast("double"),
    )
    return glob.select(
        "group",
        "n",
        (F.col("_m2").cast("double") / F.lit(2.0)).alias("median"),
        (
            F.col("_tj").cast("double")
            / (F.lit(2.0) * F.col("n").cast("double"))
        ).alias("z_mean"),
        w_stat.alias("w_stat"),
        (F.col("_k") - 1).cast("int").alias("df1"),
        (F.col("_nt") - F.col("_k")).cast("long").alias("df2"),
    )


def friedman_page(
    df: DataFrame,
    block_col: str = "block",
    treat_col: str = "treatment",
    value_col: str = "value",
) -> DataFrame:
    """Friedman blocked rank test + Page's L ordered-alternative trend
    test over a complete block design — one row per treatment.

    * Friedman 1937 (JASA 32): do the k treatments share one
      distribution when each block (e.g. a time bucket) is compared
      only WITHIN itself?  The blocked complement of
      ``kruskal_wallis`` — between-block level shifts (daily cycles,
      volume drift) cancel by construction, so a treatment effect is
      detected even when block-to-block variation dwarfs it.
      chi2 = 12/(n·k·(k+1))·ΣR_j² − 3·n·(k+1) with within-block
      midranks; the tie correction divides by
      C = 1 − Σ_blocks Σ_t (t³−t) / (n·k·(k²−1)) (the scipy form).
    * Page 1963 (JASA 58): against the ORDERED alternative
      τ_1 ≤ τ_2 ≤ … ≤ τ_k (treatments taken in ascending key order),
      L = Σ_j j·R_j and z = (12L − 3nk(k+1)²) / √(nk²(k²−1)(k+1)) —
      the trend-aware refinement that beats Friedman's omnibus χ²
      when the effect is monotone in j (no tie correction exists in
      the published test; ties only lower |z|, documented).

    Input is CELL data: one row per (block, treatment) — e.g. the
    per-bucket-per-source aggregate of a metric.  Blocks are retained
    iff they contain EXACTLY one row per global treatment (incomplete
    or duplicated blocks are dropped — the standard complete-block
    requirement; a NULL-valued cell is absent), so every retained
    block ranks the same k cells.

    Exactness protocol: within-block DOUBLED midranks
    r2 = 2·rank + t − 1 (``rank()`` + equal-value partition count),
    tie cubes Σ(t³−t), doubled rank sums R2_j, ΣR2_j² and the Page
    sum Σ j·R2_j are ALL exact integers in DECIMAL(38,0)
    (associative-exact, partition-order-free); chi2, C and z are each
    ONE fixed float expression — bit-identical in the DuckDB replay.

    Scale shape: one cell hash-aggregate (caller side), the
    complete-block windows on the cells, within-block windows
    partitioned by block (frame bounded by k rows), a k-row treatment
    reduce and k-row global windows.  Zero Python, no join.

    NULLs: chi2 NULL when k < 2 or no complete block; chi2_adj
    additionally NULL when every block is fully tied (C = 0); page_z
    NULL when k < 3 (the ordered alternative needs 3 levels) or no
    complete block.
    """
    ranked = _ranked_blocks(df, block_col, treat_col, value_col).withColumn(
        "_t", F.count("*").over(Window.partitionBy("block", "_v")).cast("long")
    )

    # tie cube per block: each (block, v) group of size t contributes
    # t³ − t, counted once — divide the per-row contribution by t;
    # summed per treatment here and folded to the global total below
    grp = ranked.groupBy("treatment").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("_r2").cast(_D0)).alias("_r2s"),
        F.sum(
            F.col("_t").cast(_D0) * F.col("_t").cast(_D0)
            - F.lit(1).cast(_D0)
        ).alias("_tiep"),
    )
    w_j = Window.orderBy("treatment")  # k-row result, bounded by k
    grp = grp.withColumn("_j", F.dense_rank().over(w_j).cast("int"))

    # k-row global reduces as windows over the k-row treatment table
    w_glob = Window.partitionBy()
    glob = (
        grp.withColumn("k", F.count("*").over(w_glob).cast("int"))
        .withColumn("n", F.max("n_blocks").over(w_glob).cast("long"))
        .withColumn(
            "_s2", F.sum(F.col("_r2s") * F.col("_r2s")).over(w_glob)
        )
        .withColumn(
            "_l2",
            F.sum(F.col("_j").cast(_D0) * F.col("_r2s")).over(w_glob),
        )
        .withColumn("_tie", F.sum("_tiep").over(w_glob))
    )

    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    chi2 = F.when(
        (F.col("k") >= 2) & (F.col("n") >= 1),
        F.lit(3.0) * F.col("_s2").cast("double")
        / (nd * kd * (kd + F.lit(1.0)))
        - F.lit(3.0) * nd * (kd + F.lit(1.0)),
    )
    c_tie = F.lit(1.0) - F.col("_tie").cast("double") / (
        nd * kd * (kd * kd - F.lit(1.0))
    )
    page_z = F.when(
        (F.col("k") >= 3) & (F.col("n") >= 1),
        (
            F.lit(6.0) * F.col("_l2").cast("double")
            - F.lit(3.0) * nd * kd * (kd + F.lit(1.0)) * (kd + F.lit(1.0))
        )
        / F.sqrt(nd * kd * kd * (kd * kd - F.lit(1.0)) * (kd + F.lit(1.0))),
    )
    return glob.select(
        "treatment",
        "_j",
        F.col("n_blocks"),
        F.col("_r2s").cast("long").alias("r2_sum"),
        (
            F.col("_r2s").cast("double")
            / (F.lit(2.0) * F.col("n_blocks").cast("double"))
        ).alias("mean_rank"),
        chi2.alias("chi2"),
        F.when(chi2.isNotNull() & (c_tie > F.lit(0.0)), chi2 / c_tie).alias(
            "chi2_adj"
        ),
        (F.col("_l2").cast("double") / F.lit(2.0)).alias("page_l"),
        page_z.alias("page_z"),
        "k",
    ).withColumnRenamed("_j", "j")


def cochran_q(
    df: DataFrame,
    block_col: str = "block",
    treat_col: str = "treatment",
    value_col: str = "value",
) -> DataFrame:
    """Cochran's Q test (Cochran 1950, Biometrika 37) — the BINARY
    member of the blocked family: given one 0/1 outcome per
    (block, treatment) cell (e.g. "did this source trip the alert in
    this hour?"), do the k treatments share one success probability
    once block-to-block variation is held fixed?  The k-treatment
    generalization of McNemar's paired test, and the binary analogue
    of ``friedman_page`` (which needs ordinal cells).

    One row per treatment: (treatment, n_blocks, successes,
    success_rate, q, df, k), with the global statistic repeated.

        Q = (k−1)·(k·Σ_j C_j² − N²) / (k·N − Σ_i R_i²)

    (C_j = per-treatment success totals, R_i = per-block success
    totals, N = ΣC_j = ΣR_i) — asymptotically chi²(k−1) under H0.
    Blocks are retained iff they contain EXACTLY one 0/1 row per
    global treatment (the ``friedman_page`` complete-block rule);
    non-binary values raise.

    Exactness: EVERY quantity is an exact integer in DECIMAL(38,0) —
    numerator and denominator included — so Q is literally ONE float
    division, bit-identical in any engine.  NULL q when k < 2, no
    complete block, or the denominator is 0 (every retained block
    all-0 or all-1 — no within-block information).

    Scale shape: the friedman_page plumbing minus the ranking — cell
    validation, the complete-block windows, a per-block window, a
    per-treatment reduce and k-row global windows.  Zero Python, no
    join.
    """
    cells = df.select(
        F.col(block_col).alias("block"),
        F.col(treat_col).alias("treatment"),
        _binary(value_col, "cochran_q requires 0/1 cell values; got "),
    )

    # the per-block success totals are a per-block window, and the
    # Σ R_i² / block-count totals ride the per-treatment aggregate as
    # representative-row partials folded by a k-row window
    kept = complete_blocks(cells).withColumn(
        "_r", F.sum("_x").over(Window.partitionBy("block")).cast("long")
    ).withColumn(
        "_repb",
        F.row_number().over(Window.partitionBy("block").orderBy("treatment"))
        == 1,
    )
    cols = kept.groupBy("treatment").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("_x").cast("long").alias("successes"),
        F.sum(
            F.when(
                F.col("_repb"),
                F.col("_r").cast(_D0) * F.col("_r").cast(_D0),
            )
        ).alias("_rrp"),
        F.sum(F.when(F.col("_repb"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("_nbp"),
    )
    w_glob = Window.partitionBy()
    glob = (
        cols.withColumn("k", F.count("*").over(w_glob).cast("int"))
        .withColumn("_n", F.sum("successes").over(w_glob).cast("long"))
        .withColumn(
            "_cc",
            F.sum(
                F.col("successes").cast(_D0) * F.col("successes").cast(_D0)
            ).over(w_glob),
        )
        .withColumn("_rr", F.sum("_rrp").over(w_glob))
        .withColumn("_nb", F.sum("_nbp").over(w_glob).cast("long"))
    )

    num = (F.col("k") - 1).cast(_D0) * (
        F.col("k").cast(_D0) * F.col("_cc")
        - F.col("_n").cast(_D0) * F.col("_n").cast(_D0)
    )
    den = F.col("k").cast(_D0) * F.col("_n").cast(_D0) - F.col("_rr")
    q = F.when(
        (F.col("k") >= 2) & (F.col("_nb") >= 1) & (den > F.lit(0).cast(_D0)),
        num.cast("double") / den.cast("double"),
    )
    return glob.select(
        "treatment",
        "n_blocks",
        "successes",
        (
            F.col("successes").cast("double") / F.col("n_blocks").cast("double")
        ).alias("success_rate"),
        q.alias("q"),
        (F.col("k") - 1).cast("int").alias("df"),
        "k",
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative trend test (Jonckheere
    1954 Biometrika 41; Terpstra 1952): are the k group distributions
    stochastically ORDERED along the group sort order?  The k-sample
    sharpening of Kruskal–Wallis when the alternative is monotone
    (e.g. value drifts up across ordered corpus snapshots) — strictly
    more powerful than H there because it spends no power on
    non-monotone rearrangements.

    J = Σ_{i<j} U_ij, U_ij the Mann–Whitney count of pairs (a in
    group i, b in group j) with x_a < x_b, ties counted ½.  Groups
    are ordered by the natural sort of their keys (document your key
    encoding so the order is the intended one).

    Exactness protocol (module docstring): the doubled statistic
    2J = Σ_cells c·P is an exact DECIMAL(38,0) integer via the dense
    (group × distinct-value) grid — P the prefix-over-groups sum of
    T = 2·(#less in group) + (#equal in group) at fixed value; the
    null moments use only exact integer sums (4E = N² − Σn²; the
    Hollander–Wolfe tie-corrected variance's three terms A/72 +
    B/(36·N(N−1)(N−2)) + C/(8·N(N−1)) from exact Σn(n−1)(2n+5),
    Σt(t−1)(2t+5), Σn(n−1)(n−2), Σt(t−1)(t−2), Σn(n−1), Σt(t−1));
    z is ONE fixed float expression, 6-dp-quantized only at the
    output column — bit-identical in the DuckDB replay.

    Scale shape: one census hash-aggregate, a k×V dense grid (V the
    distinct-value domain — same bound every census operator here
    carries), a per-group window over V rows, a per-value window over
    k rows, and a 1-row global reduce broadcast back onto the k
    output rows.  Zero Python.

    Returns one row per group: (group, gi, n, two_j, four_e, z, k,
    n_total); ``z`` is NULL when k < 2, N < 3, or the null variance
    is 0 (every value tied).
    """
    cnt = census(df, group_col, value_col)
    groups = cnt.groupBy("group").agg(F.sum("_c").cast("long").alias("n"))
    # k-row window: the deterministic group order the statistic is
    # defined over
    groups = groups.withColumn(
        "gi", F.dense_rank().over(Window.orderBy("group")).cast("int")
    )
    vals = cnt.groupBy("_v").agg(F.sum("_c").cast("long").alias("_t"))

    grid = F.broadcast(groups.select("group", "gi")).crossJoin(
        vals.select("_v")
    )
    grid = grid.join(cnt, ["group", "_v"], "left").withColumn(
        "_c", F.coalesce(F.col("_c"), F.lit(0).cast("long"))
    )

    w_lt = (
        Window.partitionBy("group")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.withColumn(
        "_T",
        2 * F.coalesce(F.sum("_c").over(w_lt), F.lit(0).cast("long"))
        + F.col("_c"),
    )
    w_pre = (
        Window.partitionBy("_v")
        .orderBy("gi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.withColumn(
        "_P",
        F.coalesce(F.sum("_T").over(w_pre), F.lit(0).cast("long")),
    )

    two_j = grid.agg(
        F.sum(F.col("_c").cast(_D0) * F.col("_P").cast(_D0)).alias("_twoj")
    )

    nn = F.col("n").cast(_D0)
    gsum = groups.agg(
        F.count("*").cast("int").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(nn * nn).alias("_sn2"),
        F.sum(nn * (nn - 1) * (2 * nn + 5)).alias("_sn125"),
        F.sum(nn * (nn - 1) * (nn - 2)).alias("_sn12"),
        F.sum(nn * (nn - 1)).alias("_sn1"),
    )
    tt = F.col("_t").cast(_D0)
    tsum = vals.agg(
        F.sum(tt * (tt - 1) * (2 * tt + 5)).alias("_st125"),
        F.sum(tt * (tt - 1) * (tt - 2)).alias("_st12"),
        F.sum(tt * (tt - 1)).alias("_st1"),
    )

    glob = gsum.crossJoin(tsum).crossJoin(two_j)
    nt = F.col("n_total").cast(_D0)
    four_e = (nt * nt - F.col("_sn2")).cast(_D0)
    ntd = F.col("n_total").cast("double")
    var = (
        (nt * (nt - 1) * (2 * nt + 5) - F.col("_sn125") - F.col("_st125"))
        .cast("double")
        / F.lit(72.0)
        + F.col("_sn12").cast("double")
        * F.col("_st12").cast("double")
        / (F.lit(36.0) * ntd * (ntd - F.lit(1.0)) * (ntd - F.lit(2.0)))
        + F.col("_sn1").cast("double")
        * F.col("_st1").cast("double")
        / (F.lit(8.0) * ntd * (ntd - F.lit(1.0)))
    )
    z = F.when(
        (F.col("k") >= 2) & (F.col("n_total") >= 3) & (var > F.lit(0.0)),
        (
            F.lit(2.0) * F.col("_twoj").cast("double")
            - four_e.cast("double")
        )
        / (F.lit(4.0) * F.sqrt(var)),
    )
    glob = glob.select(
        F.col("_twoj").cast("long").alias("two_j"),
        four_e.cast("long").alias("four_e"),
        _floor_round(z, 6).alias("z"),
        "k",
        "n_total",
    )

    out = groups.crossJoin(F.broadcast(glob))
    return out.select(
        "group", "gi", "n", "two_j", "four_e", "z", "k", "n_total"
    )


def mood_median(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Mood's median test (Mood 1950, *Introduction to the Theory of
    Statistics*): do the k groups share one median?  The 2×k
    chi-square on (above grand median | ≤ grand median) counts — the
    maximally tie- and outlier-robust location screen (it looks at
    nothing but which side of the pooled median each value falls on),
    the coarse complement to ``kruskal_wallis``.

    Ties AT the grand median count in the ≤ cell (the scipy
    ``median_test(ties='below')`` convention).

    Exactness protocol (module docstring): the doubled grand median
    m2 = x_(lo) + x_(hi) is an exact integer from the distinct-value
    census order statistics (same machinery as ``brown_forsythe``,
    pooled); the cell counts a_g (2v > m2) and their totals are exact
    longs; each group's chi-square contribution ((a·N − n·A)² /
    (N·n·A) + (b·N − n·B)² / (N·n·B), numerators exact
    DECIMAL(38,0)) is 6-dp floor-quantized and accumulated as
    DECIMAL(38,6); the statistic is the float cast of that exact sum
    — bit-identical in the DuckDB replay.

    Scale shape: one census hash-aggregate linked by WINDOWS only —
    the pooled cumulative counts, the grand-median order statistics
    and the k-row reduces are all window functions over the census
    lineage (domain-bounded: they see distinct values / k group
    rows), so the plan is one linear chain with zero joins and zero
    re-executed branches.  All window sums are exact longs/decimals.
    Zero Python.

    Returns one row per group: (group, n, n_above, n_le, median,
    chi2, df, k, n_total, n_above_total); ``chi2`` is NULL when
    k < 2 or either margin (A or B) is empty.
    """
    cnt = pooled_median2(census(df, group_col, value_col))
    grp = cnt.groupBy("group").agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(
            F.when(2 * F.col("_v").cast("long") > F.col("_m2"), F.col("_c"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_above"),
        F.max("_m2").alias("_m2"),
    )
    grp = grp.withColumn("n_le", (F.col("n") - F.col("n_above")).cast("long"))

    w_glob = Window.partitionBy()
    j = (
        grp.withColumn("k", F.count("*").over(w_glob).cast("int"))
        .withColumn("n_total", F.sum("n").over(w_glob).cast("long"))
        .withColumn(
            "n_above_total", F.sum("n_above").over(w_glob).cast("long")
        )
    )
    a_num = (
        F.col("n_above").cast(_D0) * F.col("n_total").cast(_D0)
        - F.col("n").cast(_D0) * F.col("n_above_total").cast(_D0)
    )
    b_tot = F.col("n_total").cast(_D0) - F.col("n_above_total").cast(_D0)
    b_num = (
        F.col("n_le").cast(_D0) * F.col("n_total").cast(_D0)
        - F.col("n").cast(_D0) * b_tot
    )
    term = F.when(
        (F.col("n_above_total") > 0)
        & (F.col("n_above_total") < F.col("n_total")),
        _floor_round(
            a_num.cast("double")
            * a_num.cast("double")
            / (
                F.col("n_total").cast("double")
                * F.col("n").cast("double")
                * F.col("n_above_total").cast("double")
            )
            + b_num.cast("double")
            * b_num.cast("double")
            / (
                F.col("n_total").cast("double")
                * F.col("n").cast("double")
                * b_tot.cast("double")
            ),
            6,
        ),
    )
    j = j.withColumn("_chi2", F.sum(term.cast(_D6)).over(w_glob))
    chi2 = F.when(F.col("k") >= 2, F.col("_chi2").cast("double"))
    return j.select(
        "group",
        "n",
        "n_above",
        "n_le",
        (F.col("_m2").cast("double") / F.lit(2.0)).alias("median"),
        chi2.alias("chi2"),
        (F.col("k") - 1).cast("int").alias("df"),
        "k",
        "n_total",
        "n_above_total",
    )


def cochran_armitage(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Cochran–Armitage trend test (Cochran 1954 Biometrics 10;
    Armitage 1955 Biometrics 11): does a BINARY outcome's success
    rate trend monotonically across the k ordered groups?  The binary
    member of the ordered-trend family — ``jonckheere_terpstra`` for
    continuous values, this for 0/1 outcomes (e.g. "does the
    contamination-hit rate rise across ordered corpus snapshots?"),
    with equally-spaced integer scores s_i = the group's rank in the
    natural key sort order.

    T = Σ s_i (r_i − n_i·R/N),  Var(T) = (R/N)(1−R/N)·(Σ s_i² n_i −
    (Σ s_i n_i)²/N),  z = T/√Var — asymptotically N(0,1) under H0,
    chi² = z² the 1-df Armitage statistic.

    Exactness protocol (module docstring): every moment is an exact
    DECIMAL(38,0) integer — T·N = N·Σs_i r_i − R·Σs_i n_i and
    Var·N³ = R(N−R)(N·Σs_i²n_i − (Σs_i n_i)²) — so z =
    T·N·√N / √(Var·N³) and chi² = (T·N)²·N / (Var·N³) are each ONE
    fixed float expression over exact integers, 6-dp-quantized at the
    output — bit-identical in the DuckDB replay.  0/1 validation is
    IN-PLAN via raise_error (the ``cochran_q`` idiom — no second scan
    of a 100 TB input).

    Scale shape: ONE (group) hash-aggregate (map-side combined), a
    k-row rank window, a 1-row global reduce broadcast back onto the
    k output rows.  Zero Python, zero joins wider than k rows.

    Returns one row per group: (group, gi, n, successes, rate, z,
    chi2, df, k, n_total, r_total); ``z``/``chi2`` are NULL when
    k < 2, the outcome margin is degenerate (R = 0 or R = N), or all
    weight sits in one score (N·Σs²n = (Σsn)²).
    """
    cells = df.select(
        F.col(group_col).alias("group"),
        _binary(value_col, "cochran_armitage requires 0/1 values; got "),
    )

    grp = cells.groupBy("group").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_x").cast("long").alias("successes"),
    )
    # k-row window: the deterministic score order (s_i = rank)
    grp = grp.withColumn(
        "gi", F.dense_rank().over(Window.orderBy("group")).cast("int")
    )

    gi0 = F.col("gi").cast(_D0)
    glob = grp.agg(
        F.count("*").cast("int").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("successes").cast("long").alias("r_total"),
        F.sum(gi0 * F.col("successes").cast(_D0)).alias("_sr"),
        F.sum(gi0 * F.col("n").cast(_D0)).alias("_s1"),
        F.sum(gi0 * gi0 * F.col("n").cast(_D0)).alias("_s2"),
    )
    n0 = F.col("n_total").cast(_D0)
    r0 = F.col("r_total").cast(_D0)
    tn = n0 * F.col("_sr") - r0 * F.col("_s1")
    varn3 = r0 * (n0 - r0) * (n0 * F.col("_s2") - F.col("_s1") * F.col("_s1"))
    ok = (
        (F.col("k") >= 2)
        & (F.col("r_total") > 0)
        & (F.col("r_total") < F.col("n_total"))
        & (varn3 > F.lit(0).cast(_D0))
    )
    nd = F.col("n_total").cast("double")
    z = F.when(
        ok,
        tn.cast("double")
        * F.sqrt(nd)
        / F.sqrt(varn3.cast("double")),
    )
    chi2 = F.when(
        ok,
        tn.cast("double") * tn.cast("double") * nd / varn3.cast("double"),
    )
    glob = glob.select(
        _floor_round(z, 6).alias("z"),
        _floor_round(chi2, 6).alias("chi2"),
        F.lit(1).cast("int").alias("df"),
        "k",
        "n_total",
        "r_total",
    )

    out = grp.crossJoin(F.broadcast(glob))
    return out.select(
        "group",
        "gi",
        "n",
        "successes",
        (
            F.col("successes").cast("double") / F.col("n").cast("double")
        ).alias("rate"),
        "z",
        "chi2",
        "df",
        "k",
        "n_total",
        "r_total",
    )


def quade(
    df: DataFrame,
    block_col: str = "block",
    treat_col: str = "treatment",
    value_col: str = "value",
) -> DataFrame:
    """Quade test (Quade 1979 JASA 74; Conover *Practical
    Nonparametric Statistics* §5.8): the range-WEIGHTED member of the
    complete-block family — Friedman treats every block as equally
    informative, Quade up-weights blocks with a large within-block
    spread (big range = the block discriminates treatments well),
    which beats Friedman when treatment effects scale with block
    level (the usual case for volume-proportional metrics).

    Within block i: midranks r_ij of the k cells; block weight
    Q_i = midrank of the block's range D_i = max_j v_ij − min_j v_ij
    among all blocks; S_ij = Q_i·(r_ij − (k+1)/2); S_j = Σ_i S_ij;
    F = (n−1)·B / (A − B) with A = ΣΣ S_ij², B = (1/n)·Σ_j S_j² —
    F(k−1, (n−1)(k−1)) under H0.

    Exactness protocol (module docstring): doubled cell midranks 2r
    and doubled range midranks 2Q are exact integers, so
    4S_ij = 2Q_i·(2r_ij − (k+1)) is exact, and
    F = (n−1)·Σ(4S_j)² / (n·Σ(4S_ij)² − Σ(4S_j)²) is ONE float
    division of exact DECIMAL(38,0) integers — bit-identical in the
    DuckDB replay.  Complete-block rule shared with
    ``friedman_page``.

    Scale shape: the friedman_page plumbing plus ONE unkeyed window
    over the BLOCK table to midrank the ranges — bounded by the
    number of blocks (the time-bucket domain, e.g. hours — the same
    domain-bound the distinct-value census carries), never by N.
    Zero Python, joins keyed by block only.

    Returns one row per treatment: (treatment, j, n_blocks, s4_sum,
    f_stat, df1, df2, k, n); ``f_stat`` is NULL when k < 2, fewer
    than 2 complete blocks, or A = B (every block's ranking
    identical — no within-variance left).
    """
    # the block range and its midrank among blocks are WINDOWS on the
    # cells, so the plan is one linear chain over a single scan
    kept = _ranked_blocks(df, block_col, treat_col, value_col)

    # block range as a per-block window; its midrank among the
    # n_blocks DISTINCT blocks via one representative row per block:
    # #blocks with smaller range through an integer RANGE frame
    # (_d is long, so range <= _d−1 is exactly "< _d"), ties through
    # a per-range partition — 2·rank + ties − 1, the same doubled
    # midrank the range-table window produced
    w_b = Window.partitionBy("block")
    kept = kept.withColumn(
        "_d", (F.max("_v").over(w_b) - F.min("_v").over(w_b)).cast("long")
    ).withColumn(
        "_rep",
        F.row_number().over(
            Window.partitionBy("block").orderBy("treatment", "_v")
        )
        == 1,
    )
    w_dlt = Window.orderBy("_d").rangeBetween(Window.unboundedPreceding, -1)
    w_deq = Window.partitionBy("_d")
    rep1 = F.when(F.col("_rep"), F.lit(1))
    kept = kept.withColumn(
        "_q2",
        (
            2 * (F.coalesce(F.sum(rep1).over(w_dlt), F.lit(0)) + 1)
            + F.sum(rep1).over(w_deq)
            - 1
        ).cast("long"),
    )

    s = kept.select(
        "treatment",
        (
            F.col("_q2").cast(_D0)
            * (F.col("_r2").cast(_D0) - (F.col("_k") + 1).cast(_D0))
        ).alias("_s4"),
    )

    grp = s.groupBy("treatment").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("_s4").alias("_s4s"),
        F.sum(F.col("_s4") * F.col("_s4")).alias("_a16j"),
    )
    grp = grp.withColumn(
        "_j", F.dense_rank().over(Window.orderBy("treatment")).cast("int")
    )

    # k-row global reduces as windows over the k-row treatment table
    w_glob = Window.partitionBy()
    grp = (
        grp.withColumn("k", F.count("*").over(w_glob).cast("int"))
        .withColumn("n", F.max("n_blocks").over(w_glob).cast("long"))
        .withColumn("_a16", F.sum("_a16j").over(w_glob))
        .withColumn(
            "_b16n", F.sum(F.col("_s4s") * F.col("_s4s")).over(w_glob)
        )
    )
    den = F.col("n").cast(_D0) * F.col("_a16") - F.col("_b16n")
    f_stat = F.when(
        (F.col("k") >= 2)
        & (F.col("n") >= 2)
        & (den > F.lit(0).cast(_D0)),
        (F.col("n") - 1).cast("double")
        * F.col("_b16n").cast("double")
        / den.cast("double"),
    )
    return grp.select(
        "treatment",
        F.col("_j").alias("j"),
        "n_blocks",
        F.col("_s4s").cast("long").alias("s4_sum"),
        _floor_round(f_stat, 6).alias("f_stat"),
        (F.col("k") - 1).cast("int").alias("df1"),
        ((F.col("n") - 1) * (F.col("k") - 1)).cast("long").alias("df2"),
        "k",
        "n",
    )


def conover_squared_ranks(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
) -> DataFrame:
    """Conover squared-ranks test for equal variances (Conover &
    Iman 1981; Conover *Practical Nonparametric Statistics* §5.3):
    the k-sample RANK test of scale — ``brown_forsythe`` runs an
    ANOVA on |x − median|, this ranks the pooled deviations and sums
    their SQUARES per group, trading a little power for full
    outlier-insensitivity (one wild point moves a rank by at most
    one slot, not the whole F).  The k-sample complement of
    ``ansari_drift``'s two-sample scale test, and the scale analogue
    of ``kruskal_wallis``.

    Median-centred variant (documented deviation from Conover's
    mean-centred original): deviations are taken from the GROUP
    median so they stay on the exact-integer grid — Conover himself
    notes mean or median centring are both valid (the statistic is
    asymptotically the same chi²(k−1)); means would put a float in
    every deviation.

        z_gj = |x_gj − median_g|,  R = pooled midranks of z,
        S_j = Σ R²,  T = (Σ_j S_j²/n_j − N·S̄²) / D²,
        D² = (ΣΣR⁴ − N·S̄²)/(N−1),  S̄ = ΣΣR²/N  —  T ~ chi²(k−1).

    Exactness protocol (module docstring): doubled group medians m2
    and doubled deviations z2 = |2v − m2| exact; pooled doubled
    midranks 2r over the (group, z2) census exact.  T is invariant
    under any rescaling u → α·u of the squared ranks (numerator and
    denominator both scale α²), so the computation uses the
    NORMALIZED squared ranks u = (2r/2N)² ∈ (0, 1] — raw (ΣR²)²
    reaches ~1e20 at 10⁴ rows, past every integer grid, while every
    normalized quantity stays O(N).  u and u² are quantized onto the
    12-dp grid (the ``psi_drift`` rule), all sums are exact
    DECIMAL(38,12), per-group S_j²/n_j terms 6-dp into
    DECIMAL(38,6), and T is ONE fixed float expression —
    bit-identical in the DuckDB replay.

    Scale shape: two census hash-aggregates ((group, value) then
    (group, z2)) connected by WINDOWS all the way down — the group
    median, the pooled tie/cumulative counts, the pooled moment sums
    (over one representative row per distinct z2) and the k-row
    global reduces are all window functions over the census lineage,
    so the plan is ONE linear chain with zero joins and zero
    re-executed branches.  The unkeyed windows are domain-bounded:
    they see the (group, distinct-z2) census, never raw rows.  All
    window sums are exact longs/decimals (order-free).  Zero Python.

    Returns one row per group: (group, n, s_u, mean_u, t_stat, df,
    k, n_total); ``s_u`` = Σu over the group (the normalized
    squared-rank sum — larger mean_u = wider group); ``t_stat`` is
    NULL when k < 2, N < 2, or D² = 0 (every pooled deviation
    tied).
    """
    ranked = group_median2(census(df, group_col, value_col))
    dev = (
        ranked.withColumn(
            "_z2",
            F.abs(2 * F.col("_v").cast("long") - F.col("_m2")).cast("long"),
        )
        .groupBy("group", "_z2")
        .agg(F.sum("_c").cast("long").alias("_c"))
    )

    # pooled tie and running counts, the grand total and one
    # representative row per distinct z2, all exact long windows
    w_all = Window.partitionBy()
    dev = (
        pooled_ties(dev, "_z2")
        .withColumn("_N", F.sum("_c").over(w_all))
        .withColumn("_rep", first_of_run("_z2"))
    )

    # scale-invariance of T: u -> alpha*u leaves T unchanged, so work
    # with u = (2r / 2N)^2 in (0, 1] instead of raw R^2 — raw (4S_j)^2
    # reaches ~1e20 at 10^4 rows (overflowing any long-based grid),
    # while every normalized quantity stays O(N).  u and u^2 are
    # quantized onto the 12-dp grid (the psi rule) so all sums are
    # exact DECIMAL(38,12), bit-identical in the replay.
    r2d = mid2("double")
    ud = (r2d / (F.lit(2.0) * F.col("_N").cast("double"))) * (
        r2d / (F.lit(2.0) * F.col("_N").cast("double"))
    )
    dev = dev.withColumn("_u", q12(ud)).withColumn(
        "_w", q12(F.col("_u").cast("double") * F.col("_u").cast("double"))
    )

    # operand widths chosen so the product precision is exactly 38 at
    # scale 12 ((13,0)x(24,12) -> (38,12)): a (38,0)x(38,12) product
    # overflows Spark's declared precision and silently REDUCES the
    # scale to 6 (allowPrecisionLoss), diverging from the replay
    c13 = F.col("_c").cast("decimal(13,0)")
    t13 = F.col("_t").cast("decimal(13,0)")
    u24 = F.col("_u").cast("decimal(24,12)")
    w24 = F.col("_w").cast("decimal(24,12)")
    # pooled moment sums over the distinct-z2 representatives, plus the
    # structural degeneracy flag: D² = 0 iff ONE distinct pooled
    # deviation — an exact count, not a float-zero test (the float
    # den lands within one ulp of 0 either side when degenerate)
    dev = (
        dev.withColumn(
            "_t1", F.sum(F.when(F.col("_rep"), t13 * u24)).over(w_all)
        )
        .withColumn(
            "_t2", F.sum(F.when(F.col("_rep"), t13 * w24)).over(w_all)
        )
        .withColumn(
            "_nz",
            F.sum(F.when(F.col("_rep"), F.lit(1)).otherwise(F.lit(0)))
            .over(w_all)
            .cast("long"),
        )
    )

    grp = dev.groupBy("group").agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(c13 * u24).alias("_su"),
        # constants on every input row (global windows): first() is safe
        F.first("_t1").alias("_t1"),
        F.first("_t2").alias("_t2"),
        F.first("_nz").alias("_nz"),
    )

    # k-row global reduces as windows over the k-row group table
    w_glob = Window.partitionBy()
    grp = (
        grp.withColumn("k", F.count("*").over(w_glob).cast("int"))
        .withColumn("n_total", F.sum("n").over(w_glob).cast("long"))
        .withColumn("_sq", F.sum(_sq_over_n6("_su")).over(w_glob))
    )

    nd = F.col("n_total").cast("double")
    nbar2 = F.col("_t1").cast("double") * F.col("_t1").cast("double") / nd
    den = (F.col("_t2").cast("double") - nbar2) / (nd - F.lit(1.0))
    t_stat = F.when(
        (F.col("k") >= 2)
        & (F.col("n_total") >= 2)
        & (F.col("_nz") >= 2)
        & (den > F.lit(0.0)),
        (F.col("_sq").cast("double") - nbar2) / den,
    )
    return grp.select(
        "group",
        "n",
        F.col("_su").cast("double").alias("s_u"),
        (
            F.col("_su").cast("double") / F.col("n").cast("double")
        ).alias("mean_u"),
        _floor_round(t_stat, 6).alias("t_stat"),
        (F.col("k") - 1).cast("int").alias("df"),
        "k",
        "n_total",
    )
