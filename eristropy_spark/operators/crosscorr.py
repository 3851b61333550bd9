"""Lagged cross-correlation between signals — the CCF of classical
time-series analysis (Box & Jenkins, "Time Series Analysis" §11.2;
public): for every ordered pair of sources and every lag 0..max_lag,
the Pearson correlation of one aligned series against the other
shifted ``lag`` buckets forward — the lead/lag discovery primitive
("does signups' spike precede purchases' by ~3 minutes?").

Scale shape: signals first align onto a regular bucket grid with ONE
hash aggregate (avg per (source, bucket) — map-side combined), so the
pairwise stage sees one row per signal per bucket, not raw events.
The lag shift is an in-row explode of ``max_lag+1`` small integers on
the left side; the pair match is then a plain equi-join ON BUCKET
(never a cross product over rows), and the final corr() is a hash
aggregate keyed by (source_a, source_b, lag) — cardinality = pairs x
lags, tiny.  With S sources sharing a bucket the join emits S² rows
per bucket per lag: pairwise correlation is inherently quadratic in
SIGNALS, but never in samples — filter the source set upstream for
wide deployments.  No Python anywhere; corr() is Spark's built-in
two-pass-free co-moment aggregate, mergeable map-side.

The reference engine has no cross-signal statistics; this extends the
repo's acf (autocorrelation) to signal PAIRS as engine capability for
the timeseries tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid

__all__ = ["crosscorr_pairs"]


def crosscorr_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    max_lag: int = 5,
    min_overlap: int = 3,
) -> DataFrame:
    """(source_a, source_b, lag, n, ccf) for every unordered source
    pair (source_a < source_b lexically) and lag 0..``max_lag``:
    ``ccf`` = Pearson corr of a's bucket-mean series against b's
    shifted ``lag`` buckets LATER (positive lag = a leads b).

    Buckets are ``bucket_sec``-second timestamp floors; ``n`` counts
    the overlapping buckets entering each correlation and pairs with
    fewer than ``min_overlap`` are dropped (corr of <3 points is
    noise).  NULL ccf when either side is constant over the overlap
    (zero variance) — both engines agree.
    """
    if max_lag < 0:
        raise ValueError("max_lag must be >= 0")
    if min_overlap < 2:
        raise ValueError("min_overlap must be >= 2")

    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        F.avg(F.col(value_col).cast("double")).alias("v"),
    )

    lags = F.explode(
        F.sequence(F.lit(0), F.lit(int(max_lag)))
    ).alias("lag")
    left = grid.select(
        F.col("source").alias("source_a"),
        F.col("bucket"),
        F.col("v").alias("va"),
        lags,
    ).withColumn("join_bucket", F.col("bucket") + F.col("lag"))
    right = grid.select(
        F.col("source").alias("source_b"),
        F.col("bucket").alias("join_bucket"),
        F.col("v").alias("vb"),
    )
    matched = left.join(right, "join_bucket").where(
        F.col("source_a") < F.col("source_b")
    )
    return (
        matched.groupBy("source_a", "source_b", "lag")
        .agg(
            F.count("*").cast("long").alias("n"),
            # zero-variance overlap: Spark's corr yields NaN, DuckDB
            # NULL — pin one semantic (NULL) like rolling_stats' std
            F.try_divide(
                F.covar_samp("va", "vb"),
                F.when(
                    (F.stddev_samp("va") > 0) & (F.stddev_samp("vb") > 0),
                    F.stddev_samp("va") * F.stddev_samp("vb"),
                ),
            ).alias("ccf"),
        )
        .where(F.col("n") >= int(min_overlap))
        .withColumn("lag", F.col("lag").cast("int"))
    )
