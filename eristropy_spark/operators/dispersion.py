"""Count-dispersion diagnostics per source — Fano factor and Allan
variance over the bucketed event-count series.

``count_dispersion`` measures whether a source's event arrivals are
Poisson-like, clustered, or regularized, from the per-bucket COUNT
series c_1..c_B (zero-filled over the source's active span):

* Fano factor (index of dispersion, Fano 1947):
      F = Var(c) / Mean(c)       (population variance)
  F ≈ 1 for Poisson arrivals, > 1 clustered/bursty, < 1 regular —
  the windowed-count complement of ``burstiness`` (which reads the
  same physics off inter-arrival GAPS).
* Allan variance (Allan 1966, Proc. IEEE 54 — the two-sample form):
      AVAR = ½ · mean((c_{i+1} − c_i)²)
  insensitive to slow drift (it differences first), so AVAR/Mean
  separates slow rate modulation (Fano ≫ AVAR-ratio) from genuine
  point-process clustering (both elevated).

Exactness: bucket counts are EXACT integers, the zero-filled span is
B = last_bucket − first_bucket + 1 (dense via an in-row
``sequence``-free formulation: sums over MISSING buckets are zero, so
ΣC and ΣC² need only observed rows while B counts the full span —
only the adjacent-difference sum needs the dense walk, built by
comparing each observed bucket with its predecessor and charging the
zero-gap in closed form: a gap of g empty buckets between counts a
and b contributes a² + b² to Σ(Δ²) when g >= 1... computed exactly
from (prev_bucket, prev_count) pairs).  Every statistic is ONE fixed
float expression over exact int64 sums.

Scale shape: one count aggregate, one keyed window (lag), one final
aggregate — zero Python, no joins, no dense explode (the zero-run
algebra above avoids materializing empty buckets entirely, which is
what makes this safe on a sparse 100 TB event table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid

__all__ = ["count_dispersion", "zero_inflation", "overdispersion_score"]


def count_dispersion(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    bucket_sec: int = 600,
    min_buckets: int = 8,
) -> DataFrame:
    """(source, n_events, n_buckets, mean_count, fano, avar,
    avar_ratio) per source with n_buckets >= min_buckets spanned.

    ``n_buckets`` is the FULL span (empty buckets count as zeros);
    ``fano``/``avar`` are NULL when the mean count is zero.

    Zero-run algebra for Σ(Δ²) without densifying: consecutive
    observed buckets p < q with counts a, b contribute

        (b − a)²                 if q = p + 1   (adjacent)
        a² + b²                  if q > p + 1   (a→0 step + 0→b step;
                                  the zero-zero steps in between add 0)

    and the series has exactly B − 1 steps, all covered this way.
    """
    if min_buckets < 2:
        raise ValueError("min_buckets must be >= 2")
    counts = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        F.count("*").cast("long").alias("c"),
    )

    w = Window.partitionBy("source").orderBy("bucket")
    staged = counts.select(
        "source", "bucket", "c",
        F.lag("bucket").over(w).alias("pb"),
        F.lag("c").over(w).alias("pc"),
    )
    b, pb = F.col("bucket"), F.col("pb")
    c, pc = F.col("c"), F.col("pc")
    step_sq = F.when(pb.isNull(), F.lit(0).cast("long")).when(
        b == pb + 1, (c - pc) * (c - pc)
    ).otherwise(pc * pc + c * c)
    agg = staged.groupBy("source").agg(
        F.sum("c").alias("n_events"),
        (F.max("bucket") - F.min("bucket") + 1).alias("n_buckets"),
        F.sum(c * c).alias("_sq"),
        F.sum(step_sq).alias("_dsq"),
    ).where(F.col("n_buckets") >= int(min_buckets))
    nb = F.col("n_buckets").cast("double")
    ne = F.col("n_events").cast("double")
    mean_c = ne / nb
    var_c = (F.col("_sq").cast("double") - ne * ne / nb) / nb
    avar = F.col("_dsq").cast("double") / (nb - F.lit(1.0)) / F.lit(2.0)
    fano = F.when(F.col("n_events") > 0, var_c / mean_c)
    avar_ratio = F.when(F.col("n_events") > 0, avar / mean_c)
    return agg.select(
        "source", "n_events", "n_buckets",
        mean_c.alias("mean_count"),
        fano.alias("fano"),
        avar.alias("avar"),
        avar_ratio.alias("avar_ratio"),
    )


def _span_census(df, source_col, ts_col, bucket_sec, min_buckets, part):
    """Per source off ONE (source, bucket) count census: n_events, the
    census aggregate ``part`` and the full span ``n_buckets`` (empty
    buckets included) between the first and last non-empty bucket."""
    if min_buckets < 2:
        raise ValueError("min_buckets must be >= 2")
    cts = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        F.count("*").cast("long").alias("_c"), bucket="_b",
    )
    red = cts.groupBy("source").agg(
        F.sum("_c").cast("long").alias("n_events"),
        part,
        F.min("_b").alias("_bmin"),
        F.max("_b").alias("_bmax"),
    )
    return red.withColumn(
        "n_buckets", (F.col("_bmax") - F.col("_bmin") + 1).cast("long")
    )


def zero_inflation(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    bucket_sec: int = 600,
    min_buckets: int = 8,
) -> DataFrame:
    """(source, n_events, n_buckets, n_zero, zero_frac, p0, score)
    — van den Broek's score test for ZERO INFLATION in a Poisson
    count series (van den Broek 1995, Biometrics 51), per source
    over the same bucket grid as ``count_dispersion``: are there more
    empty buckets than the Poisson rate explains?

        S = (n₀ − n·p̂₀)² / (n·p̂₀(1−p̂₀) − n·ȳ·p̂₀²),
        p̂₀ = e^(−ȳ),  ȳ = events/buckets  —  S ~ χ²(1) under Poisson.

    The structural-vs-sampling-zeros discriminator the counter family
    needs: ``count_dispersion``'s Fano factor says the counts are
    overdispersed; this says whether the excess mass sits AT ZERO
    specifically (a service that is sometimes simply off), which
    changes the fix (zero-inflated model / uptime gate) versus
    generic burstiness.

    NO dense bucket explode: n₀ = span − (distinct non-empty
    buckets), three exact integers off ONE (source, bucket) census —
    the zero-run-algebra spirit taken to its limit, the whole
    statistic from a 4-scalar reduce.  ``score`` is ONE fixed float
    expression over exact integers (single exp(), the ``pettitt``
    rule) — bit-identical in the DuckDB replay.

    ``score`` is NULL when the span is under ``min_buckets`` or the
    information denominator is ≤ 0 (degenerate at very large ȳ·p₀ or
    all-empty spans).
    """
    red = _span_census(
        df, source_col, ts_col, bucket_sec, min_buckets,
        F.count("*").cast("long").alias("_nnz"),
    ).withColumn("n_zero", (F.col("n_buckets") - F.col("_nnz")).cast("long"))

    nd = F.col("n_buckets").cast("double")
    ybar = F.col("n_events").cast("double") / nd
    p0 = F.exp(-ybar)
    den = nd * p0 * (F.lit(1.0) - p0) - nd * ybar * p0 * p0
    num = F.col("n_zero").cast("double") - nd * p0
    score = F.when(
        (F.col("n_buckets") >= int(min_buckets)) & (den > F.lit(0.0)),
        num * num / den,
    )
    return red.select(
        "source",
        "n_events",
        "n_buckets",
        "n_zero",
        (F.col("n_zero").cast("double") / nd).alias("zero_frac"),
        p0.alias("p0"),
        score.alias("score"),
    )


def overdispersion_score(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    bucket_sec: int = 600,
    min_buckets: int = 8,
) -> DataFrame:
    """(source, n_events, n_buckets, mean_count, p_b) — Dean's score
    test for Poisson OVERDISPERSION (Dean & Lawless 1989 JASA 84;
    Dean 1992), per source over the ``count_dispersion`` bucket grid:

        P_B = Σ[(y_i − ȳ)² − y_i] / (ȳ·√(2n))  ~  N(0,1)

    under equidispersion.  The calibrated z for what the Fano factor
    reports as an effect size — closing the count triptych: Fano (how
    overdispersed), P_B (is it significant), zero_inflation (is the
    excess AT zero).

    NO dense bucket explode: empty buckets contribute (0 − ȳ)² − 0 =
    ȳ² each, so Σ(y−ȳ)² = Σy² − 2ȳ·Σy + n·ȳ² needs only the
    NON-EMPTY census (Σy² , Σy exact integers) plus the span n —
    the ``zero_inflation`` 4-scalar shape.  P_B is ONE fixed float
    expression over exact integers — bit-identical in the DuckDB
    replay.  NULL when the span is under ``min_buckets`` or ȳ = 0.
    """
    red = _span_census(
        df, source_col, ts_col, bucket_sec, min_buckets,
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sq"),
    )
    nd = F.col("n_buckets").cast("double")
    ne = F.col("n_events").cast("double")
    ybar = ne / nd
    # sum (y - ybar)^2 over ALL buckets = sq - 2*ybar*ne + n*ybar^2
    ss = (
        F.col("_sq").cast("double")
        - F.lit(2.0) * ybar * ne
        + nd * ybar * ybar
    )
    p_b = F.when(
        (F.col("n_buckets") >= int(min_buckets)) & (F.col("n_events") > 0),
        (ss - ne) / (ybar * F.sqrt(F.lit(2.0) * nd)),
    )
    return red.select(
        "source",
        "n_events",
        "n_buckets",
        ybar.alias("mean_count"),
        p_b.alias("p_b"),
    )
