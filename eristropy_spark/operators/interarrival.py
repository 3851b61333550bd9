"""Inter-event (interarrival) time statistics per event stream.

``burstiness_stats`` — the Goh & Barabási 2008 (EPL 81) pair of
point-process diagnostics computed from each key's gap sequence
d_i = t_i − t_{i−1} (integer microseconds):

    burstiness B = (σ − μ) / (σ + μ)        ∈ (−1, 1)
    memory     M = corr(d_i, d_{i+1})       (lag-1 Pearson)

B → −1 for a regular (periodic) stream, 0 for Poisson, → 1 for
extreme bursts; M > 0 means long gaps follow long gaps (clustered
activity).  Together they place every stream on the
Goh–Barabási (B, M) phase plane — THE standard characterization of
human/machine event timing, and the point-process complement of the
value-based entropy operators.

Exactness protocol: gaps are exact integer microseconds
(``functions/grid.micros``, so TIMESTAMP_NTZ gaps are wall-clock
differences under any session time zone); all sums the
two statistics need (Σd, Σd², and the lag-pair sums Σh, Σt, Σh·t,
Σh², Σt²) accumulate as DECIMAL(38, 0) — gap products reach ~1e22 for
day-scale gaps, past int64 but far inside 38 digits — so every
aggregate is associative-exact under any partitioning, and each
statistic is then ONE fixed float expression over those integers
(same shape in the SQL replay; the dominant_period DECIMAL(38,0)
precedent).  σ uses the population form (ddof=0, the published
definition).  B is NULL when n_gaps < 2 or σ+μ = 0 (degenerate
single-gap or all-zero-gap streams); M NULL when either lag margin
has zero variance.

Scale shape: one keyed window pass (lag over (ts, tiebreak)) and one
per-key aggregate riding the same partitioning — ONE Exchange, no
joins, no Python; a key with 10⁹ events streams through both stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import micros

__all__ = ["burstiness_stats"]


def burstiness_stats(
    df: DataFrame,
    key,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """(*key, n_events, n_gaps, mean_gap_us, burstiness, memory) —
    one row per key with >= 1 event."""
    keys = [key] if isinstance(key, str) else list(key)
    base_cols = [micros(df, ts_col).alias("_us")]
    order_cols = ["_us"]
    if tiebreak_col is not None:
        base_cols.append(F.col(tiebreak_col).alias("_tb"))
        order_cols.append("_tb")
    staged = df.select(*keys, *base_cols)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    pts = staged.withColumn(
        "_d", F.col("_us") - F.lag("_us").over(w)
    ).withColumn("_h", F.lag("_d").over(w))
    # _d = gap ending at this event (NULL on the first); _h = previous
    # gap in the same (ts, tiebreak) order, so rows with _h non-NULL
    # are exactly the lag-1 gap pairs

    def _dec(c):
        return F.col(c).cast("decimal(38,0)")

    lag_pair = F.col("_h").isNotNull()
    agg = pts.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_events"),
        F.count("_d").cast("long").alias("n_gaps"),
        F.sum(_dec("_d")).alias("_s1"),
        F.sum(_dec("_d") * _dec("_d")).alias("_s2"),
        F.count(F.when(lag_pair, 1)).cast("long").alias("_m"),
        F.sum(F.when(lag_pair, _dec("_h"))).alias("_p1"),
        F.sum(F.when(lag_pair, _dec("_d"))).alias("_p2"),
        F.sum(F.when(lag_pair, _dec("_h") * _dec("_d"))).alias("_p11"),
        F.sum(F.when(lag_pair, _dec("_h") * _dec("_h"))).alias("_p1s"),
        F.sum(F.when(lag_pair, _dec("_d") * _dec("_d"))).alias("_p2s"),
    )
    ng = F.col("n_gaps").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    mu = s1 / ng
    sigma = F.sqrt(s2 / ng - mu * mu)
    b = F.when(
        (F.col("n_gaps") >= 2) & (sigma + mu > F.lit(0.0)),
        (sigma - mu) / (sigma + mu),
    )
    md = F.col("_m").cast("double")
    p1 = F.col("_p1").cast("double")
    p2 = F.col("_p2").cast("double")
    p11 = F.col("_p11").cast("double")
    p1s = F.col("_p1s").cast("double")
    p2s = F.col("_p2s").cast("double")
    vh = md * p1s - p1 * p1
    vt = md * p2s - p2 * p2
    mem = F.when(
        (F.col("_m") >= 2) & (vh > F.lit(0.0)) & (vt > F.lit(0.0)),
        (md * p11 - p1 * p2) / F.sqrt(vh * vt),
    )
    return agg.select(
        *keys,
        "n_events",
        "n_gaps",
        F.when(F.col("n_gaps") >= 1, mu).alias("mean_gap_us"),
        b.alias("burstiness"),
        mem.alias("memory"),
    )
