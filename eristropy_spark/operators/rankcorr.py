"""Rank-association and paired rank tests between signals on the
bucket grid: Spearman ρ_s, Kendall τ-b, Wilcoxon signed-rank.

``spearman_pairs`` — the rank-based (monotone-association) complement
of ``crosscorr_pairs``' Pearson CCF (Spearman 1904): for every
unordered source pair, ρ_s = Pearson correlation of the RANKS of the
two bucket-mean series over their shared buckets, with average ranks
for ties.  Robust to outliers and nonlinear-but-monotone coupling —
the pair detector you trust when one spike would own the Pearson
number.

Exactness protocol: bucket means are 6-dp-quantized (engine-identical
grid, as granger), and because average ranks are half-integers the
DOUBLED ranks 2r = 2·minrank + t − 1 are exact int64, so every sum
Pearson needs (Σ2a, Σ2b, Σ(2a)², Σ(2b)², Σ(2a)(2b)) is an exact
integer and ρ_s is ONE fixed float expression — bit-reproducible in
SQL.  NULL when an overlap side is constant (zero rank variance).

Scale shape: ONE hash aggregate builds the grid; the pair match is a
bucket equi-join (quadratic in SOURCES only); ranks are two window
passes over the SAME (pair) partitioning; the final reduce is keyed
by pair.  No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid, bucket_pairs
from eristropy_spark.functions.ranks import midrank2
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["spearman_pairs", "kendall_pairs", "wilcoxon_signed_rank_pairs"]


def spearman_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 3,
) -> DataFrame:
    """(source_a, source_b, n, rho) per unordered source pair
    (source_a < source_b) with n >= min_overlap shared buckets."""
    if min_overlap < 2:
        raise ValueError("min_overlap must be >= 2")

    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        _floor_round(F.avg(F.col(value_col).cast("double")), 6).alias("v"),
    )
    matched = bucket_pairs(grid, "v", ("source_a", "source_b"), ("_va", "_vb"))

    pair = ["source_a", "source_b"]
    # DECIMAL(38,0) accumulation: Σ(2r)² reaches 4n³, past int64 at
    # ~1.3M overlap buckets (2.5 years of a 60 s grid) — exact either
    # way, headroom to 10¹² buckets
    ranked = matched.select(
        *pair,
        midrank2(pair, "_va").cast("decimal(38,0)").alias("_ra"),
        midrank2(pair, "_vb").cast("decimal(38,0)").alias("_rb"),
    )
    agg = ranked.groupBy(*pair).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_ra").alias("_sa"),
        F.sum("_rb").alias("_sb"),
        F.sum(F.col("_ra") * F.col("_ra")).alias("_saa"),
        F.sum(F.col("_rb") * F.col("_rb")).alias("_sbb"),
        F.sum(F.col("_ra") * F.col("_rb")).alias("_sab"),
    )
    nd = F.col("n").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    cov = F.col("_sab").cast("double") - sa * sb / nd
    va = F.col("_saa").cast("double") - sa * sa / nd
    vb = F.col("_sbb").cast("double") - sb * sb / nd
    rho = F.when((va > F.lit(0.0)) & (vb > F.lit(0.0)), cov / F.sqrt(va * vb))
    return agg.select(*pair, "n", rho.alias("rho")).where(
        F.col("n") >= int(min_overlap)
    )


def _grid_int(value_col: str):
    """The bucket mean as the exact 6-dp-grid INTEGER
    floor(avg·10⁶ + 0.5), so every downstream difference, sign and
    equality is exact int64 arithmetic (no float subtraction)."""
    return F.floor(
        F.avg(F.col(value_col).cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long").alias("vi")


def kendall_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 3,
    max_overlap: int = 5_000_000,
) -> DataFrame:
    """Kendall τ-b between signal pairs on the bucket grid (Kendall
    1938 Biometrika 30; τ-b tie treatment per Kendall 1945).

    For every unordered source pair, classify each of the C(n,2)
    shared-bucket pairs as concordant / discordant / tied-in-a /
    tied-in-b / tied-in-both and report

        τ_b = (C − D) / sqrt((n0 − n1)(n0 − n2)),

    n0 = n(n−1)/2, n1 = pairs tied in a, n2 = pairs tied in b.  The
    pair-count complement of ``spearman_pairs``: τ is a probability
    statement (P[concordant] − P[discordant]) where ρ_s is a rank
    moment, and τ's influence function is bounded even under rank
    perturbation.

    Exactness: bucket means are the exact 6-dp-grid int64 (see
    ``_grid_int``), so every sign classification is integer
    comparison; C, D and the tie counts are exact integers and τ is
    ONE fixed float expression — bit-identical in the DuckDB replay.

    Scale shape: Knight's O(n log n) algorithm (Knight 1966 JASA 61)
    per pair — sort the shared buckets by (a, b), count strict
    inversions of b with a merge pass (= discordant pairs exactly:
    a-tied pairs sort b-ascending and contribute none, b-tied pairs
    are never strict descents), take tie counts from run lengths, and
    recover C = n0 − t1 − t2 + t3 − D.  All counts are exact int64,
    so the result is bit-identical to the O(n²) classification (the
    DuckDB oracle still replays the quadratic form).  The grouped map
    is keyed by (source_a, source_b) and spread via ``keyed_parallel``
    so per-pair work distributes; the ``max_overlap`` guard FAILS
    LOUD (one tiny aggregate pre-check) on degenerate grids — with
    the loglinear kernel its default affords 100× the old quadratic
    bound.
    """
    if min_overlap < 2:
        raise ValueError("min_overlap must be >= 2")
    if max_overlap < min_overlap:
        raise ValueError("max_overlap must be >= min_overlap")

    grid = bucket_grid(df, source_col, ts_col, bucket_sec, _grid_int(value_col))
    matched = bucket_pairs(grid, "vi", ("source_a", "source_b"), ("via", "vib"))
    # materialize once: the guard aggregate and the grouped map both
    # reuse it instead of re-scanning raw events (matched rows =
    # shared grid cells, bounded by sources² × span)
    matched = matched.localCheckpoint(eager=False)
    pair = ["source_a", "source_b"]

    # fail-loud explode guard: one tiny keyed aggregate, rows = pairs
    worst = (
        matched.groupBy(*pair).count().agg(F.max("count")).collect()[0][0]
    )
    if worst is not None and worst > max_overlap:
        raise ValueError(
            f"a source pair shares {worst} buckets > max_overlap="
            f"{max_overlap}; the Kendall classification would need "
            f"{worst} log-sorted rows in one task — widen bucket_sec "
            f"or raise max_overlap deliberately"
        )

    from pyspark.sql.types import LongType, StructField, StructType

    from eristropy_spark.operators._pandas_par import keyed_parallel

    out_schema = StructType(
        [
            StructField("source_a", matched.schema["source_a"].dataType),
            StructField("source_b", matched.schema["source_b"].dataType),
            StructField("n", LongType()),
            StructField("n_c", LongType()),
            StructField("n_d", LongType()),
            StructField("_t1", LongType()),
            StructField("_t2", LongType()),
            StructField("_n0", LongType()),
        ]
    )

    def _knight(pdf):
        import numpy as np
        import pandas as pd

        a = pdf["via"].to_numpy(np.int64, copy=False)
        b = pdf["vib"].to_numpy(np.int64, copy=False)
        n = len(a)
        order = np.lexsort((b, a))
        a = a[order]
        b = b[order]
        n0 = n * (n - 1) // 2

        def _tie(counts):
            c = counts.astype(np.int64)
            return int((c * (c - 1) // 2).sum())

        # a is sorted: run lengths from boundaries; joint runs likewise
        bound_a = np.flatnonzero(
            np.r_[True, a[1:] != a[:-1], True]
        )
        t1 = _tie(np.diff(bound_a))
        t2 = _tie(np.unique(b, return_counts=True)[1])
        bound_ab = np.flatnonzero(
            np.r_[True, (a[1:] != a[:-1]) | (b[1:] != b[:-1]), True]
        )
        t3 = _tie(np.diff(bound_ab))

        # strict inversions of b = discordant pairs (Knight 1966):
        # bottom-up merge; cross-count via searchsorted per block
        arr = b.copy()
        inv = 0
        width = 1
        while width < n:
            for lo in range(0, n, 2 * width):
                mid = lo + width
                hi = min(lo + 2 * width, n)
                if mid >= hi:
                    continue
                left = arr[lo:mid]
                right = arr[mid:hi]
                pos = np.searchsorted(left, right, side="right")
                inv += int((len(left) - pos).sum())
                arr[lo:hi] = np.sort(arr[lo:hi], kind="stable")
            width *= 2

        n_d = inv
        n_c = n0 - t1 - t2 + t3 - n_d
        return pd.DataFrame(
            {
                "source_a": [pdf["source_a"].iloc[0]],
                "source_b": [pdf["source_b"].iloc[0]],
                "n": np.int64(n),
                "n_c": np.int64(n_c),
                "n_d": np.int64(n_d),
                "_t1": np.int64(t1),
                "_t2": np.int64(t2),
                "_n0": np.int64(n0),
            }
        )

    agg = (
        keyed_parallel(matched.select(*pair, "via", "vib"), pair)
        .groupBy(*pair)
        .applyInPandas(_knight, out_schema)
    )
    d1 = (F.col("_n0") - F.col("_t1")).cast("double")
    d2 = (F.col("_n0") - F.col("_t2")).cast("double")
    tau = F.when(
        (d1 > F.lit(0.0)) & (d2 > F.lit(0.0)),
        (F.col("n_c") - F.col("n_d")).cast("double") / F.sqrt(d1 * d2),
    )
    return agg.select(*pair, "n", "n_c", "n_d", tau.alias("tau")).where(
        F.col("n") >= int(min_overlap)
    )


def wilcoxon_signed_rank_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 3,
) -> DataFrame:
    """Wilcoxon signed-rank test between signal pairs on the bucket
    grid (Wilcoxon 1945 Biometrics 1): are the two sources' bucket
    means symmetric around zero difference?  The PAIRED complement of
    ``mannwhitney_drift``'s independent-samples U — here the shared
    bucket is the pairing, so between-bucket variance cancels and the
    test sees only the within-bucket a−b contrast.

    Protocol: d = via − vib per shared bucket on the exact 6-dp
    integer grid (exact int64 differences); zero differences drop
    (the standard Wilcoxon reduction); |d| gets doubled midranks
    2r = 2·minrank + t − 1 (exact int64); W⁺ is kept DOUBLED
    (w2_plus = Σ 2r over d > 0, exact), and the tie-corrected normal
    approximation is ONE fixed float expression from exact integers:

        z = (2·w2p − n(n+1)) · sqrt(3) / sqrt(2n(n+1)(2n+1) − Σ(t³−t))

    (algebra: z = (W⁺ − n(n+1)/4)/sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48)
    with W⁺ = w2p/2, multiplied through by 4).

    Scale shape: one grid aggregate, a bucket equi-join keyed by
    pair, two window passes over the SAME pair partitioning (rank +
    tie count), one keyed reduce.  O(n log n) per pair, no quadratic
    step, zero Python.
    """
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")

    grid = bucket_grid(df, source_col, ts_col, bucket_sec, _grid_int(value_col))
    matched = bucket_pairs(grid, "vi", ("source_a", "source_b"), ("via", "vib"))
    pair = ["source_a", "source_b"]
    dz = matched.select(
        *pair, (F.col("via") - F.col("vib")).cast("long").alias("_d")
    ).where(F.col("_d") != 0)

    ad = dz.withColumn("_ad", F.abs(F.col("_d")))
    ranked = ad.select(
        *pair,
        F.col("_d"),
        midrank2(pair, "_ad").alias("_r2"),
        F.count("*").over(Window.partitionBy(*pair, "_ad")).cast("long")
        .alias("_t"),
    )
    agg = ranked.groupBy(*pair).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("_d") > 0, F.col("_r2")).otherwise(F.lit(0)))
        .cast("long")
        .alias("w2_plus"),
        # each |d|-tie group of size t contributes t·(t²−1) summed
        # row-wise: Σ_rows (t²−1) = Σ_groups t·(t²−1) = Σ(t³−t)
        F.sum(F.col("_t") * F.col("_t") - 1).cast("long").alias("_tie"),
    )
    nd = F.col("n").cast("double")
    num = (
        F.lit(2.0) * F.col("w2_plus").cast("double") - nd * (nd + F.lit(1.0))
    ) * F.sqrt(F.lit(3.0))
    den2 = (
        F.lit(2.0) * nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0))
        - F.col("_tie").cast("double")
    )
    z = F.when(den2 > F.lit(0.0), num / F.sqrt(den2))
    return agg.select(*pair, "n", "w2_plus", z.alias("z")).where(
        F.col("n") >= int(min_overlap)
    )
