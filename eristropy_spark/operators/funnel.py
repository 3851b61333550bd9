"""Event-sequence product analytics over the events table:

* ``funnel_conversion`` — ordered multi-step funnel (view → click →
  purchase): per key, step j+1 counts only if it happens STRICTLY
  AFTER the key's step-j time (earliest-completion semantics: each
  step's time is the minimum eligible timestamp), optionally within a
  per-step ``horizon_sec``.  The classic conversion query every
  events warehouse runs.
* ``retention_cohorts`` — the cohort-retention triangle: users
  grouped by first-activity period, counted distinct per period
  offset, with the retention fraction against period 0.

Both are pure DataFrame compositions with exact-integer/timestamp
semantics (no float path at all except the final fraction, which is
a ratio of exact counts quantized to 6 dp), so a SQL engine replays
them cell-for-cell.

Scale shape — ``funnel_conversion``: ONE keyed Exchange; the chained
per-step minima are window aggregates over the SAME key partitioning
(one Window node per step — each step's predicate reads the previous
step's time, so they serialize by construction), the per-key collapse
reuses that partitioning, and the final per-step counts are one tiny
global aggregate (k rows).  ``retention_cohorts``: first-activity via
a keyed window pass, then a (cohort, offset, user) distinct — two
two-phase hash aggregates; no joins, no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import micros

__all__ = ["funnel_conversion", "retention_cohorts"]


def funnel_conversion(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon_sec: float | None = None,
) -> DataFrame:
    """(step_idx, step, n_reached, frac) — one row per funnel step.

    ``n_reached`` counts keys whose earliest eligible step-j event
    exists; ``frac`` = n_reached / n_reached(step 0) (NULL when the
    first step is empty).  With ``horizon_sec`` set, step j+1 must
    fall within that many seconds of the key's step-j time.
    """
    if len(steps) < 2:
        raise ValueError(f"need >= 2 steps, got {len(steps)}")
    if len(set(steps)) != len(steps):
        raise ValueError("steps must be distinct")
    if horizon_sec is not None and horizon_sec <= 0:
        raise ValueError(f"horizon_sec must be > 0, got {horizon_sec}")
    w_key = Window.partitionBy(key_col)
    ts = F.col(ts_col)
    cur = df.select(key_col, F.col(type_col).alias("_et"), ts.alias("_ts"))
    cur = cur.withColumn(
        "_t0", F.min(F.when(F.col("_et") == steps[0], F.col("_ts"))).over(w_key)
    )
    for j in range(1, len(steps)):
        prev = F.col(f"_t{j - 1}")
        cond = (F.col("_et") == steps[j]) & prev.isNotNull() & (
            F.col("_ts") > prev
        )
        if horizon_sec is not None:
            cond = cond & (
                micros(cur, "_ts") - micros(cur, f"_t{j - 1}")
                <= int(round(horizon_sec * 1_000_000))
            )
        cur = cur.withColumn(
            f"_t{j}", F.min(F.when(cond, F.col("_ts"))).over(w_key)
        )
    per_key = cur.groupBy(key_col).agg(
        *[F.max(f"_t{j}").alias(f"_t{j}") for j in range(len(steps))]
    )
    counts = per_key.agg(
        *[
            F.count(f"_t{j}").cast("long").alias(f"_n{j}")
            for j in range(len(steps))
        ]
    )
    rows = counts.select(
        F.col("_n0").alias("_first"),
        F.posexplode(
            F.array(*[F.col(f"_n{j}") for j in range(len(steps))])
        ).alias("step_idx", "n_reached"),
    )
    names = F.array(*[F.lit(s) for s in steps])
    frac = F.when(
        F.col("_first") > 0,
        F.floor(
            F.col("n_reached").cast("double") / F.col("_first").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0),
    )
    return rows.select(
        "step_idx",
        F.element_at(names, F.col("step_idx") + 1).alias("step"),
        "n_reached",
        frac.alias("frac"),
    )


def retention_cohorts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """(cohort, offset, n_active, n_cohort, retention) — one row per
    (first-activity period, period offset) with at least one active
    key.  ``offset`` counts whole periods between the cohort period
    and the activity period (whole days between the periods' first
    days, over 7 for a week; year·12 + month for a month), ``n_cohort`` the
    cohort's size (its offset-0 distinct count — every key is active
    in its own first period by construction), ``retention`` =
    n_active / n_cohort at 6 dp.
    """
    if period not in ("day", "week", "month"):
        raise ValueError(f"period must be day|week|month, got {period}")
    w_key = Window.partitionBy(key_col)
    # each period's first day as a DATE: the wall-clock date of a
    # TIMESTAMP_NTZ (session-free), the session-zone date of a TIMESTAMP;
    # offsets are whole-day differences, so a DST day (23 or 25 h) still
    # counts as one
    day = F.col(ts_col).cast("date")
    bucket = day if period == "day" else F.trunc(day, period)
    pts = df.select(
        key_col,
        bucket.alias("_b"),
        F.min(bucket).over(w_key).alias("_cohort"),
    )
    if period == "month":
        off = (
            (F.year("_b") - F.year("_cohort")) * 12
            + (F.month("_b") - F.month("_cohort"))
        ).cast("long")
    else:
        off = F.datediff("_b", "_cohort")
        off = (off if period == "day" else F.floor(off / 7)).cast("long")
    if df.schema[ts_col].dataType.simpleString() == "timestamp_ntz":
        # that day's midnight as a UTC instant, whatever the session zone
        cohort = F.timestamp_micros(F.unix_date("_cohort") * F.lit(86_400_000_000))
    else:
        cohort = F.col("_cohort").cast("timestamp")
    active = (
        pts.select(F.col(key_col).alias("_k"), "_cohort", off.alias("offset"))
        .distinct()
        .groupBy("_cohort", "offset")
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    w_cohort = Window.partitionBy("_cohort")
    sized = active.withColumn(
        "n_cohort",
        F.max(F.when(F.col("offset") == 0, F.col("n_active"))).over(w_cohort),
    )
    ret = F.floor(
        F.col("n_active").cast("double") / F.col("n_cohort").cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return sized.select(
        cohort.alias("cohort"),
        "offset",
        "n_active",
        "n_cohort",
        ret.alias("retention"),
    )
