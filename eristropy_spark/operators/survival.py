"""Kaplan–Meier survival over per-key activity lifetimes.

``kaplan_meier_churn`` — the product-limit estimator (Kaplan & Meier
1958, JASA 53) over each key's observed lifetime in the events table:
lifetime = whole days between a key's first and last event; a key
whose last event precedes the corpus end by more than
``censor_horizon_days`` has CHURNED (event observed), otherwise it is
right-censored (still active at the observation boundary — exactly
the case naive "average lifetime" numbers silently corrupt, which is
the entire reason Kaplan–Meier exists).

    S(t) = Π_{u <= t, d_u > 0} (1 − d_u / n_u)

over event times u, with n_u = keys whose lifetime ≥ u (at risk) and
d_u = churn events at u.  Output one row per distinct lifetime with
(n_risk, n_events, n_censored, surv).

Exactness protocol: lifetimes, risk sets, and event counts are exact
integers (whole-day floor over integer microseconds, read by
``functions/grid.micros`` so a TIMESTAMP_NTZ keeps its wall clock
whatever the session zone; at-risk via a
suffix sum — a descending running-frame window, never the O(rows²)
UNBOUNDED FOLLOWING form).  The product is evaluated as
exp(Σ ln(1 − d/n)) with each log-term quantized to the 12-dp grid and
summed as DECIMAL(38, 12) (associative-exact; the cusum/markov
precedent), so the running product is bit-reproducible in SQL without
a recursive CTE.

Scale shape: one per-key aggregate (first/last event), a 1-row
corpus-end broadcast, a (lifetime, flag) census aggregate, and window
passes over the SINGLE ordered lifetime axis.  The lifetime axis has
at most max-lifetime-days distinct values — thousands, not billions —
so the single-partition window over the census is a bounded-size
reduce, not a data-scale stage (same class as funnel's k-row tail).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import micros
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["kaplan_meier_churn"]


def kaplan_meier_churn(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    censor_horizon_days: int = 7,
) -> DataFrame:
    """(t_days, n_risk, n_events, n_censored, surv) — one row per
    distinct observed lifetime, ordered by t_days downstream."""
    if censor_horizon_days < 1:
        raise ValueError(
            f"censor_horizon_days must be >= 1, got {censor_horizon_days}"
        )
    us = micros(df, ts_col)
    per_key = df.groupBy(key_col).agg(
        F.min(us).alias("_first"),
        F.max(us).alias("_last"),
    )
    end = df.agg(F.max(us).alias("_end"))
    day_us = F.lit(86400 * 1_000_000)
    horizon_us = F.lit(int(censor_horizon_days) * 86400 * 1_000_000)
    lives = per_key.join(F.broadcast(end)).select(
        F.floor((F.col("_last") - F.col("_first")) / day_us)
        .cast("long")
        .alias("t_days"),
        (F.col("_last") < F.col("_end") - horizon_us)
        .cast("int")
        .alias("_churned"),
    )
    census = lives.groupBy("t_days").agg(
        F.count("*").cast("long").alias("_n_at"),
        F.sum("_churned").cast("long").alias("n_events"),
        (F.count("*") - F.sum("_churned")).cast("long").alias("n_censored"),
    )
    # at-risk = suffix sum of arrivals: ascending-order descending
    # running frame (the gapfill_linear lesson: never UNBOUNDED
    # FOLLOWING in Spark's window evaluator)
    w_desc = (
        Window.orderBy(F.col("t_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_asc = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = census.withColumn("n_risk", F.sum("_n_at").over(w_desc))
    # n_events == n_risk (everyone still at risk churns at t — only
    # possible at the maximum lifetime) would put ln(0) = −inf into the
    # decimal sum; keep the term finite and pin that row's surv to 0.0
    # in the projection below
    term = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        _floor_round(
            F.log(
                F.lit(1.0)
                - F.col("n_events").cast("double")
                / F.col("n_risk").cast("double")
            ),
            12,
        ),
    ).otherwise(F.lit(0.0))
    surv = F.exp(
        F.sum(term.cast("decimal(38,12)")).over(w_asc).cast("double")
    )
    return staged.select(
        "t_days",
        "n_risk",
        "n_events",
        "n_censored",
        # S drops to exactly 0 when the last at-risk key churns
        # (ln(0) = -inf; exp(-inf) = 0 — pin 0.0 explicitly to avoid
        # engine NULL/-inf divergence)
        F.when(
            (F.col("n_events") == F.col("n_risk")) & (F.col("n_events") > 0),
            F.lit(0.0),
        )
        .otherwise(surv)
        .alias("surv"),
    )
