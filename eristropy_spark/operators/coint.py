"""Pairwise Engle–Granger cointegration on the bucket-mean grid.

``coint_eg_pairs`` — the Engle & Granger 1987 (Econometrica 55)
two-step cointegration test between every ordered source pair
(x, y), x < y: two integrated series are COINTEGRATED when some
linear combination of them is stationary — the shared-equilibrium
detector completing the pair family (``crosscorr_pairs`` finds the
lag, ``granger_pairs`` the predictive direction, ``dcca_pairs`` the
scale-resolved co-fluctuation; Engle–Granger the long-run tie).

    step 1:  y_t = a + b·x_t + u_t          (OLS on aligned buckets)
    step 2:  Δu_t = ρ·u_{t−1} + ε_t         (no-constant Dickey–Fuller
                                             on the residuals)
    tau = ρ̂ / se(ρ̂);  cointegrated ⇔ tau very negative

``coint_5pct`` applies the asymptotic 5% Engle–Granger critical value
−3.34 for the 2-variable constant-included case (MacKinnon 1991/2010
response surface, T→∞ limit; the small-T correction shifts the bar
left, so at contract sizes the flag is CONSERVATIVE — fewer
rejections, never spurious ones).

Exactness protocol (granger's quantize-then-derive, extended one
stage): bucket means quantize to the 6-dp grid FIRST; the step-1
moments accumulate as 12-dp DECIMAL(38,12) (associative-exact); a and
b are ONE fixed float expression each; the residual u_t = y_t − a −
b·x_t re-quantizes to the 6-dp grid (so step 2's inputs are again
exact grid points); the step-2 lag-pair moments accumulate as
DECIMAL(38,12); ρ̂, s², tau are one fixed float expression each —
bit-identical in the DuckDB replay.

Scale shape: ONE hash aggregate builds the grid; the pair alignment
is a bucket equi-join (quadratic in SOURCES only, never in rows); the
step-1 reduce keys by (source_x, source_y); the tiny per-pair coef
table broadcasts back onto the aligned rows; the lag pairing is a
keyed window (pair partition, bucket order, consecutive-bucket
guard); the step-2 reduce keys by pair again.  No Python anywhere; a
pair with a billion aligned buckets streams through every stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid, bucket_pairs
from eristropy_spark.functions.ranks import q12
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["coint_eg_pairs"]


def coint_eg_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 8,
) -> DataFrame:
    """(source_x, source_y, n, n_pairs, alpha, beta, rho, tau,
    coint_5pct) for every unordered pair x < y with n >=
    max(min_overlap, 4) aligned buckets and n_pairs >= 3 consecutive
    residual pairs.  ``tau`` is NULL for degenerate designs (constant
    x, zero residual energy)."""
    if min_overlap < 4:
        raise ValueError("min_overlap must be >= 4")

    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        _floor_round(F.avg(F.col(value_col).cast("double")), 6).alias("v"),
    )
    # the raw-event scan + grid aggregate is the dominant stage at
    # scale and this plan consumes the grid FOUR times (x side, y
    # side, step-1 moments, step-2 residuals) — a lazy
    # localCheckpoint materializes it once (grid rows = sources ×
    # buckets, orders of magnitude below the input) instead of
    # rescanning the input per consumer; blocks are freed by the
    # ContextCleaner when the result goes out of scope
    grid = grid.localCheckpoint(eager=False)
    al = bucket_pairs(grid, "v", ("source_x", "source_y"), ("_x", "_y"))

    mom = al.groupBy("source_x", "source_y").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q12(F.col("_x"))).cast("double").alias("_sx"),
        F.sum(q12(F.col("_y"))).cast("double").alias("_sy"),
        F.sum(q12(F.col("_x") * F.col("_x"))).cast("double").alias("_sxx"),
        F.sum(q12(F.col("_x") * F.col("_y"))).cast("double").alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    det = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd
    b = F.when(
        det > F.lit(0.0),
        (F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd) / det,
    )
    coef = mom.select(
        "source_x",
        "source_y",
        "n",
        b.alias("_b"),
        (F.col("_sy") / nd - b * F.col("_sx") / nd).alias("_a"),
    ).where(F.col("n") >= int(max(min_overlap, 4)))

    resid = al.join(F.broadcast(coef), ["source_x", "source_y"]).select(
        "source_x",
        "source_y",
        "bucket",
        "n",
        _floor_round(
            F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x"), 6
        ).alias("_u"),
    ).where(F.col("_u").isNotNull())

    w = Window.partitionBy("source_x", "source_y").orderBy("bucket")
    lagged = resid.select(
        "source_x",
        "source_y",
        "n",
        F.col("_u").alias("_uc"),
        F.lag("_u").over(w).alias("_up"),
        (F.col("bucket") - F.lag("bucket").over(w)).alias("_gap"),
    ).where(F.col("_up").isNotNull() & (F.col("_gap") == 1))

    red = lagged.groupBy("source_x", "source_y").agg(
        F.max("n").alias("n"),
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(q12(F.col("_up") * F.col("_up"))).cast("double").alias("_s11"),
        F.sum(q12(F.col("_uc") * F.col("_uc"))).cast("double").alias("_s22"),
        F.sum(q12(F.col("_up") * F.col("_uc"))).cast("double").alias("_s12"),
    )

    rho = F.when(
        F.col("_s11") > F.lit(0.0),
        (F.col("_s12") - F.col("_s11")) / F.col("_s11"),
    )
    md = F.col("n_pairs").cast("double")
    ssr = (
        (F.col("_s22") - F.lit(2.0) * F.col("_s12") + F.col("_s11"))
        - F.lit(2.0) * rho * (F.col("_s12") - F.col("_s11"))
        + rho * rho * F.col("_s11")
    )
    s2 = ssr / (md - F.lit(1.0))
    tau = F.when(
        rho.isNotNull() & (F.col("n_pairs") >= 3) & (s2 > F.lit(0.0)),
        rho / F.sqrt(s2 / F.col("_s11")),
    )

    out = (
        red.join(
            F.broadcast(coef.select("source_x", "source_y", "_a", "_b")),
            ["source_x", "source_y"],
        )
        .where(F.col("n_pairs") >= 3)
        .select(
            "source_x",
            "source_y",
            "n",
            "n_pairs",
            F.col("_a").alias("alpha"),
            F.col("_b").alias("beta"),
            rho.alias("rho"),
            tau.alias("tau"),
            (tau < F.lit(-3.34)).alias("coint_5pct"),
        )
    )
    return out
