"""Pairwise Granger causality on the bucket-mean grid.

``granger_pairs`` — the Granger 1969 (Econometrica 37) one-lag
causality test between every ORDERED source pair (x → y): does x's
past improve the prediction of y beyond y's own past?

    restricted:  y_t = a + b·y_{t−1}             (SSR_r)
    full:        y_t = a + b·y_{t−1} + c·x_{t−1} (SSR_f)
    F = (SSR_r − SSR_f) / (SSR_f / (n − 3))      ~ F(1, n−3) under H0

The lead/lag DIRECTION detector completing the pair family
(``crosscorr_pairs`` finds the lag, ``cross_sampen_pairs`` the
pattern synchrony, Granger the predictive asymmetry: x→y significant
while y→x is not means x leads).

Exactness protocol (quantize-then-derive): signals align onto the
same integer-microsecond bucket grid as crosscorr, the bucket means
are quantized to the 6-dp grid FIRST, every moment term (u·w, u·z, …)
is quantized to 12 dp and accumulated as DECIMAL(38, 12)
(associative-exact under any partitioning), and the OLS closed forms

    det  = Suu·Sww − Suw²          (centered second moments)
    b    = (Suz·Sww − Swz·Suw)/det
    c    = (Swz·Suu − Suz·Suw)/det
    SSR_f = Szz − b·Suz − c·Swz

are ONE fixed float expression — bit-reproducible by the SQL replay.
F is NULL for degenerate designs (Suu ≤ 0, det ≤ 0 — constant or
collinear regressors) and for n < max(min_overlap, 4).

Scale shape: ONE hash aggregate builds the grid (map-side combined);
the triple (y_t, y_{t−1}, x_{t−1}) alignment is two bucket equi-joins
(never a cross product over rows — quadratic in SOURCES only, like
crosscorr); the moment reduce is keyed by (source_x, source_y) —
cardinality = ordered pairs.  No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid, lag_triples
from eristropy_spark.functions.ranks import q12
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["granger_pairs"]


def granger_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 8,
) -> DataFrame:
    """(source_x, source_y, n, beta_y, beta_x, ssr_r, ssr_f, f_stat)
    for every ordered pair x ≠ y with n >= max(min_overlap, 4)
    aligned triples."""
    if min_overlap < 4:
        raise ValueError("min_overlap must be >= 4 (F needs n - 3 >= 1)")

    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        _floor_round(F.avg(F.col(value_col).cast("double")), 6).alias("v"),
    )
    triples = lag_triples(grid, "v")
    agg = triples.groupBy("source_x", "source_y").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q12(F.col("_u"))).cast("double").alias("_su"),
        F.sum(q12(F.col("_w"))).cast("double").alias("_sw"),
        F.sum(q12(F.col("_z"))).cast("double").alias("_sz"),
        F.sum(q12(F.col("_u") * F.col("_u"))).cast("double").alias("_suu"),
        F.sum(q12(F.col("_w") * F.col("_w"))).cast("double").alias("_sww"),
        F.sum(q12(F.col("_u") * F.col("_w"))).cast("double").alias("_suw"),
        F.sum(q12(F.col("_u") * F.col("_z"))).cast("double").alias("_suz"),
        F.sum(q12(F.col("_w") * F.col("_z"))).cast("double").alias("_swz"),
        F.sum(q12(F.col("_z") * F.col("_z"))).cast("double").alias("_szz"),
    )
    nd = F.col("n").cast("double")
    suu = F.col("_suu") - F.col("_su") * F.col("_su") / nd
    sww = F.col("_sww") - F.col("_sw") * F.col("_sw") / nd
    suw = F.col("_suw") - F.col("_su") * F.col("_sw") / nd
    suz = F.col("_suz") - F.col("_su") * F.col("_sz") / nd
    swz = F.col("_swz") - F.col("_sw") * F.col("_sz") / nd
    szz = F.col("_szz") - F.col("_sz") * F.col("_sz") / nd
    staged = agg.select(
        "source_x",
        "source_y",
        "n",
        suu.alias("_cuu"),
        sww.alias("_cww"),
        suw.alias("_cuw"),
        suz.alias("_cuz"),
        swz.alias("_cwz"),
        szz.alias("_czz"),
    )
    det = F.col("_cuu") * F.col("_cww") - F.col("_cuw") * F.col("_cuw")
    ssr_r = F.when(
        F.col("_cuu") > F.lit(0.0),
        F.col("_czz") - F.col("_cuz") * F.col("_cuz") / F.col("_cuu"),
    )
    b = (F.col("_cuz") * F.col("_cww") - F.col("_cwz") * F.col("_cuw")) / det
    c = (F.col("_cwz") * F.col("_cuu") - F.col("_cuz") * F.col("_cuw")) / det
    ssr_f = F.when(
        det > F.lit(0.0),
        F.col("_czz") - b * F.col("_cuz") - c * F.col("_cwz"),
    )
    out = staged.select(
        "source_x",
        "source_y",
        "n",
        F.when(det > F.lit(0.0), b).alias("beta_y"),
        F.when(det > F.lit(0.0), c).alias("beta_x"),
        ssr_r.alias("ssr_r"),
        ssr_f.alias("ssr_f"),
    )
    f_stat = F.when(
        F.col("ssr_r").isNotNull()
        & F.col("ssr_f").isNotNull()
        & (F.col("ssr_f") > F.lit(0.0)),
        (F.col("ssr_r") - F.col("ssr_f"))
        / (F.col("ssr_f") / (F.col("n").cast("double") - F.lit(3.0))),
    )
    return out.withColumn("f_stat", f_stat).where(
        F.col("n") >= int(min_overlap)
    )
