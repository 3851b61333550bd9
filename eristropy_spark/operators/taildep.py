"""Upper-tail co-exceedance between source pairs.

``tail_dependence`` estimates whether two signals spike TOGETHER —
the empirical upper-tail dependence of extreme-value theory (the
χ(q) diagnostic of Coles, Heffernan & Tawn 1999, Extremes 2), read
off the aligned bucket grid:

    exceed_x(t) = [x_t > T_x],  T_x = the ⌈q·n_x⌉-th smallest value
                  of source x's own grid (a strict order statistic)
    lift    = n · c_both / (c_x · c_y)     (1 = independent tails)
    jaccard = c_both / (c_x + c_y − c_both)

Correlation measures (pearson/crosscorr/dcca) average over the whole
distribution; MI sees the median split; this operator reads ONLY the
co-movement of the top (1−q) tail — the risk/alerting question ("do
these two error rates blow up together?").  Complements cvar_tail
(single-signal tail) and mutual_info (whole-distribution dependence).

Exactness: bucket means quantize to exact centi-units; the threshold
is an ORDER STATISTIC of integers (computed by rank, never an
interpolated quantile — interpolation is the engine-ambiguous float
path); every exceedance decision is an integer comparison and every
count an exact int64; lift/jaccard are ONE fixed float expression
each.  ``q_pct`` is an integer percentage so ⌈q·n⌉ = (q_pct·n+99)//100
stays in integer arithmetic.

Scale shape: one grid hash aggregate, one keyed window per source for
the rank (never a single partition), a broadcast of the tiny
per-source thresholds, bucket equi-joins for pair alignment
(quadratic in SOURCES only), one final pair aggregate.  Zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid, bucket_pairs

__all__ = ["tail_dependence"]


def tail_dependence(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 600,
    q_pct: int = 75,
    min_overlap: int = 8,
) -> DataFrame:
    """(source_x, source_y, n, c_x, c_y, c_both, lift, jaccard) for
    every unordered pair x < y with n >= min_overlap aligned buckets;
    ``lift`` is NULL when either side never exceeds (a constant
    series exceeds nowhere: nothing is strictly above its top order
    statistic)."""
    q = int(q_pct)
    if not 1 <= q <= 99:
        raise ValueError(f"q_pct must be in 1..99, got {q_pct}")
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")

    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        F.floor(F.avg(F.col(value_col).cast("double")) * F.lit(100.0)
                + F.lit(0.5)).cast("long").alias("u"),
    )
    # strict order statistic by rank: T = max(u over the lowest
    # ceil(q*n/100) ranks); deterministic tiebreak on bucket.  The
    # threshold is a WINDOW over the same source partition (exact
    # long max), so the grid is not re-executed for a threshold branch
    w = Window.partitionBy("source").orderBy("u", "bucket")
    wfull = Window.partitionBy("source")
    ranked = grid.select(
        "source", "bucket", "u",
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(wfull).alias("_ns"),
    )
    k = F.floor((F.lit(q) * F.col("_ns") + 99) / F.lit(100.0)).cast("long")
    sg = ranked.withColumn(
        "_thr", F.max(F.when(F.col("_rk") <= k, F.col("u"))).over(wfull)
    ).select(
        "source", "bucket",
        F.when(F.col("u") > F.col("_thr"), 1).otherwise(0)
        .cast("long").alias("e"),
    )
    pairs = bucket_pairs(sg, "e", ("source_x", "source_y"), ("_ex", "_ey"))
    agg = pairs.groupBy("source_x", "source_y").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_ex").alias("c_x"),
        F.sum("_ey").alias("c_y"),
        F.sum(F.col("_ex") * F.col("_ey")).alias("c_both"),
    ).where(F.col("n") >= int(min_overlap))
    n = F.col("n")
    cx, cy, cb = F.col("c_x"), F.col("c_y"), F.col("c_both")
    lift = F.when(
        (cx > 0) & (cy > 0),
        (n * cb).cast("double") / (cx * cy).cast("double"),
    )
    jac = F.when(
        cx + cy - cb > 0,
        cb.cast("double") / (cx + cy - cb).cast("double"),
    )
    return agg.select(
        "source_x", "source_y", "n", "c_x", "c_y", "c_both",
        lift.alias("lift"), jac.alias("jaccard"),
    )
