"""Stationarity pipeline — Spark-first re-expression of
``StationarySignals.make_stationary_signals`` (stationarity.py:192-283).

Reference trace (SURVEY.md §3.1) vs this plan:

1. transform dispatch (difference / detrend-lr / detrend-gp)    → one
   ``map_signals`` projection over ``tokens`` (zero shuffle; each row
   is a whole signal),
2. ADF p-value per signal (stationarity.py:129-165)             → one
   more column in the SAME projection (one Python-worker pass),
3. Holm–Šidák correction across ALL signals
   (``multipletests(pvalues, alpha)``, stationarity.py:186)      →
   **distributed step-down**: global sort of p-values by rank is a
   Spark sort; the first failing rank is a scalar aggregate; rejection
   is then ``rank < first_fail`` — two narrow jobs, no driver collect,
   so the correction scales to 10^12 signals (the reference collects
   to the driver, which cannot),
4. semi-join filter on survivors (stationarity.py:274-276)       →
   the reject flag is already a column — a ``where`` clause, no join
   at all,
5. optional z-normalization (stationarity.py:278-281)            →
   JVM-side ``znorm_array`` (ddof=1, hazard 4).

Output schema: (doc_id, tokens: array<double>, n_tok, source,
pvalue, is_stationary) — filtered to survivors unless
``keep_all=True``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.arrays import znormed
from eristropy_spark.functions.signals import map_signals
from eristropy_spark.kernels import adf as adf_kernel

__all__ = ["make_stationary", "holm_sidak_filter", "StationarityResult"]


def transform_adf(x, transform_fn) -> tuple[np.ndarray | None, float]:
    """(transformed signal, ADF p-value) of one signal — the fused
    transform → ADF step.  A NULL signal or a transform ValueError gives
    (None, 1.0); an ADF estimation failure gives p=1.0 (reference
    stationarity.py:158-163)."""
    if x is None:
        return None, 1.0
    try:
        t = transform_fn(np.asarray(x, dtype=np.float64))
    except ValueError:
        return None, 1.0
    try:
        return t, adf_kernel.adfuller(t)[1]
    except (ValueError, np.linalg.LinAlgError):
        return t, 1.0


class StationarityResult:
    """Pipeline output: ``df`` plus lazily-computed summary stats.

    ``stationary_frac`` / ``n_signals`` trigger ONE aggregate job on
    first access (cached after) — consumers that only read ``df`` (the
    common case) never pay for it.
    """

    def __init__(
        self, df: DataFrame, flagged: DataFrame, cached: DataFrame | None = None
    ) -> None:
        self.df = df
        self._flagged = flagged
        self._cached = cached
        self._frac: float | None = None
        self._n: int | None = None

    def release(self) -> None:
        """Unpersist the internal fused transform+ADF lineage cache.

        ``make_stationary`` persists the transform+ADF projection so the
        survivor filter and the summary aggregate don't recompute the
        expensive Python pass; the blocks stay referenced for as long as
        ``df`` is consumable.  Call this once downstream consumption is
        done — a long-lived session otherwise accumulates cached blocks
        run after run."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    def _summarize(self) -> None:
        row = self._flagged.agg(
            F.avg(F.col("is_stationary").cast("double")).alias("frac"),
            F.count("*").alias("n"),
        ).collect()[0]
        self._frac = float(row["frac"] or 0.0)
        self._n = int(row["n"])

    @property
    def stationary_frac(self) -> float:
        if self._frac is None:
            self._summarize()
        return self._frac

    @property
    def n_signals(self) -> int:
        if self._n is None:
            self._summarize()
        return self._n


def _global_rank(
    df: DataFrame, col: str, buckets: int = 1024
) -> tuple[DataFrame, int]:
    """Dense 1-based global rank by ``col`` without a single-partition
    window: value-bucket the column, window-rank *within* each bucket
    (parallel across buckets), then add driver-computed bucket offsets
    (``buckets`` rows — tiny) back via broadcast join.

    Returns ``(ranked_df, total_rows)`` — the total falls out of the
    bucket-count collect, so callers never run a separate count() job
    over the (possibly expensive) input lineage.
    """
    b = F.least(
        F.greatest(F.floor(F.col(col) * buckets).cast("int"), F.lit(0)),
        F.lit(buckets - 1),
    )
    # NaN must rank LAST like NULL: floor(NaN) casts to bucket 0 but Spark
    # sorts NaN greatest within a bucket, which would hand a NaN p-value a
    # small global rank and shift the whole Holm-Šidák step-down cutoff.
    bucketed = df.withColumn(
        "_bkt",
        F.when(F.col(col).isNull() | F.isnan(col), buckets).otherwise(b),
    )
    counts = bucketed.groupBy("_bkt").count().collect()
    by_bkt = {int(r["_bkt"]): int(r["count"]) for r in counts}
    offsets, acc = {}, 0
    for k in sorted(by_bkt):
        offsets[k] = acc
        acc += by_bkt[k]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(k, v) for k, v in offsets.items()], "_bkt int, _off long"
    )
    w = Window.partitionBy("_bkt").orderBy(F.col(col).asc_nulls_last())
    ranked = (
        bucketed.join(F.broadcast(off_df), "_bkt")
        .withColumn("_rank", F.row_number().over(w) + F.col("_off"))
        .drop("_bkt", "_off")
    )
    return ranked, acc


def holm_sidak_filter(pvalues_df: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Add ``is_stationary`` to a (…, pvalue) DataFrame — distributed
    Holm–Šidák step-down (statsmodels ``multipletests`` default "hs").

    Sorted p-values p_(i), i = 1..n: reject while
    ``p_(i) <= 1 - (1-alpha)^(1/(n-i+1))``; the first failure and every
    larger p fail.  Implemented as: bucketed global rank (parallel — see
    ``_global_rank``) → per-row criterion → min failing rank (scalar
    agg, broadcast back).  No driver collect of the p-value table, so
    the correction holds at 10^12 signals; numerically matches
    kernels.adf.holm_sidak_reject (equivalence-tested).
    """
    ranked, n = _global_rank(pvalues_df, "pvalue")
    if n == 0:
        return pvalues_df.withColumn("is_stationary", F.lit(False))
    crit = 1.0 - F.pow(F.lit(1.0 - alpha), 1.0 / (F.lit(float(n)) - F.col("_rank") + 1.0))
    flagged = ranked.withColumn(
        "_fail",
        F.col("pvalue").isNull()
        | F.isnan("pvalue")
        | (F.col("pvalue") > crit),
    )
    first_fail = flagged.agg(
        F.min(F.when(F.col("_fail"), F.col("_rank"))).alias("_first_fail")
    )
    return (
        flagged.crossJoin(F.broadcast(first_fail))
        .withColumn(
            "is_stationary",
            F.col("_first_fail").isNull() | (F.col("_rank") < F.col("_first_fail")),
        )
        .drop("_rank", "_fail", "_first_fail")
    )


def make_stationary(
    tokens_df: DataFrame,
    method: str = "difference",
    detrend_type: str = "gp",
    alpha: float = 0.05,
    normalize: bool = True,
    keep_all: bool = False,
    random_seed: int | None = None,
    ls_range: tuple[float, float] = (10.0, 100.0),
    n_searches: int = 10,
    n_splits: int = 5,
    eps: float = 1e-6,
) -> StationarityResult:
    """Transform → ADF → Holm–Šidák → filter → normalize.

    ``detrend_type="gp_sklearn"`` runs the reference's sklearn GP path
    (gp.py:18-113) with TRUE RandomizedSearchCV semantics — per-signal
    random length-scale candidates, ``normalize_y`` standardization,
    the 1e-10 alpha, neg-MSE fold scoring (``kernels.gp.
    detrend_gp_sklearn``; rounds 1-4 aliased this to the numba path).
    Two deliberate deviations, both documented at the kernel: the
    reference's residual-mislabeling bug (``np.repeat(signal_id, n)``
    at gp.py:104) is fixed structurally (labels are the Spark group
    key), and the candidate draws are seeded per signal from
    (random_seed, content) instead of one shared sequential RandomState
    — the X6 partition-order-invariance rule; a shared mutable RNG
    across distributed groups would make results depend on task order.
    """
    if method not in {"difference", "detrend"}:
        raise ValueError("method must be one of {'difference', 'detrend'}")
    if detrend_type not in {"lr", "gp", "gp_sklearn"}:
        raise ValueError(
            "detrend_type must be one of {'lr', 'gp', 'gp_sklearn'}"
        )
    if not (0.0 < alpha < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    if ls_range[0] <= 0 or ls_range[0] >= ls_range[1]:
        raise ValueError("ls_range must be a tuple (a, b) with 0 < a < b")

    from eristropy_spark.kernels.gp import detrend_gp
    from eristropy_spark.kernels.transforms import (
        detrend_linreg as detrend_linreg_kernel,
    )
    from eristropy_spark.kernels.transforms import difference as difference_kernel

    if method == "difference":
        transform_fn = difference_kernel
    elif detrend_type == "lr":
        transform_fn = lambda x: detrend_linreg_kernel(  # noqa: E731
            np.arange(x.size, dtype=np.float64), x
        )
    elif detrend_type == "gp_sklearn":
        from eristropy_spark.kernels.gp import detrend_gp_sklearn
        from eristropy_spark.kernels.rng import content_seed

        transform_fn = lambda x: detrend_gp_sklearn(  # noqa: E731
            x,
            ls_range=ls_range,
            n_iter=n_searches,
            n_splits=n_splits,
            rng=np.random.RandomState(content_seed(random_seed, x)),
        )
    else:
        # ls candidates drawn once on the driver, like gp.py:526
        rng = np.random.RandomState(random_seed)
        ls_vals = rng.uniform(ls_range[0], ls_range[1], size=n_searches)
        transform_fn = lambda x: detrend_gp(  # noqa: E731
            x, ls_vals, n_splits=n_splits, eps=eps
        )

    # transform and ADF fused into ONE pass over each signal: the unfused
    # plan serialized every token array across the Arrow boundary twice
    passthrough = [c for c in tokens_df.columns if c not in ("tokens", "n_tok")]
    base = map_signals(
        tokens_df, passthrough, "tokens", "tokens array<double>, pvalue double",
        lambda v: transform_adf(v, transform_fn),
    ).withColumn("n_tok", F.size("tokens").cast("int"))

    # The filter + the lazy fraction aggregate drive ≥2 actions over this
    # lineage; without a persist the expensive fused pass recomputes once
    # per action — at 10^12 signals that's the whole pipeline cost times
    # the action count.  MEMORY_AND_DISK: one Python pass, period.
    from pyspark import StorageLevel

    with_p = base.persist(StorageLevel.MEMORY_AND_DISK)
    flagged = holm_sidak_filter(with_p, alpha=alpha)

    out = flagged if keep_all else flagged.where(F.col("is_stationary"))
    if normalize:
        out = znormed(out, "tokens")
    return StationarityResult(df=out, flagged=flagged, cached=with_p)
