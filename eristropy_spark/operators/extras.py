"""SampEnEfficiency — Lake-et-al. r-selection (reference: eristropy/extras.py).

Spark plan (SURVEY.md §3.3): one ``map_signals`` call per sequence
emitting its (pos, objective) row at every grid r → exact NaN-skipping
median per r
across signals (np.nanmedian; see ``_nan_skipping_median`` for the
documented deviation from the reference) → collect the tiny
(|grid|-row) table →
driver-side ``np.interp`` onto the fine grid → ``nanargmin`` → r* →
one final projection computing (-log cp, s/cp) per sequence.

Unlike the reference's ``_compute_objective``, which re-filters the
whole DataFrame for every (signal, r) pair (extras.py:232-236 —
quadratic, hazard 8), every cell here is one row of one distributed
job.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.efficiency import cp_sampen_se, efficiency_grid
from eristropy_spark.functions.signals import map_signals

__all__ = ["SampEnEfficiencyOp"]


def _nan_skipping_median(col):
    """Median over non-NaN objectives.

    DOCUMENTED DEVIATION from the reference's ``np.median`` (which
    poisons the whole r-grid if ANY signal's objective is NaN): a
    sequence too short/degenerate for the CP estimator (e.g. 2 tokens —
    no order-2 template can match) would otherwise veto r* selection
    for the entire corpus.  Skipping NaN matches np.nanmedian; for
    corpora where every objective is finite the two are identical.
    """
    return F.median(F.when(~F.isnan(col), col))


class SampEnEfficiencyOp:
    """r* selection by SampEn efficiency over a token table.

    Parameters mirror extras.py:12-49 (df is a token table).
    """

    def __init__(
        self,
        df: DataFrame,
        m: int,
        r_range: tuple[float, float],
        r_step_size: float = 0.05,
        interpolation_step_size: float = 0.01,
        p: float = 0.5,
        n_boot: int = 100,
        objective: str = "counting",
        random_seed: int | None = None,
    ) -> None:
        if objective not in {"counting", "bootstrap"}:
            raise ValueError("objective must be 'counting' or 'bootstrap'")
        self.df = df
        self.m = m
        self.p = p
        self.n_boot = n_boot
        self.objective = objective
        self.random_seed = random_seed if random_seed is not None else 0
        r_low, r_high = r_range
        # grid construction identical to extras.py:35-42
        self.rs = np.arange(r_low, r_high + interpolation_step_size, r_step_size)
        self._pts = np.arange(
            r_low, r_high + interpolation_step_size, interpolation_step_size
        )
        self.r_star_: float | None = None
        self.obj_: float | None = None
        self._persisted: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the token-lineage cache created by ``find_rstar``.

        Results returned by ``compute_all_sampen`` stay *correct* after
        release (the lineage recomputes), just uncached; call once the
        output has been written/collected so a long-lived session does
        not accumulate blocks."""
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None

    def _objective_by_r(self) -> np.ndarray:
        """Median efficiency objective at each grid r (one Spark job).

        One ``efficiency_grid`` call per SEQUENCE returns the whole
        |grid|-length objective vector (the sheared match geometry is
        shared across r inside kernels/lake.cp_mean_sd_grid), so each
        token array crosses the Arrow boundary exactly once; it leaves
        as the tiny (grid-position, objective) rows of the distributed
        median.
        """
        rs = [float(r) for r in self.rs]
        m, p, n_boot, seed = self.m, float(self.p), self.n_boot, self.random_seed
        use_bootstrap = self.objective == "bootstrap"

        def _cells(v, doc_id):
            return list(enumerate(
                efficiency_grid(v, doc_id, rs, m, use_bootstrap, p, n_boot, seed)
            ))

        cells = map_signals(
            self.df, (), ("tokens", "doc_id"), "pos int, obj double", _cells,
            explode=True,
        )
        rows = (
            cells.groupBy("pos")
            .agg(_nan_skipping_median(F.col("obj")).alias("med"))
            .collect()
        )
        by_pos = {
            int(row["pos"]): float("nan") if row["med"] is None else float(row["med"])
            for row in rows
        }
        return np.array([by_pos[i] for i in range(len(self.rs))])

    def find_rstar(self) -> float:
        # the r* search and the final (sampen, se) pass are two actions
        # over the same token lineage (scan + sequence assembly + z-norm);
        # persist so the upstream shuffle runs once, like the reference
        # reuses its in-memory frame across both passes.  Caller owns the
        # cache lifetime: call release() once results are consumed.
        from pyspark import StorageLevel

        if self._persisted is None:
            self.df = self.df.persist(StorageLevel.MEMORY_AND_DISK)
            self._persisted = self.df
        objs = self._objective_by_r()
        fine = np.interp(self._pts, self.rs, objs)
        self.r_star_ = float(self._pts[np.nanargmin(fine)])
        self.obj_ = float(np.nanmin(fine))
        return self.r_star_

    def compute_all_sampen(self) -> DataFrame:
        """(doc_id, sampen, se_sampen) at the selected r* (extras.py:255-274)."""
        if self.r_star_ is None:
            self.find_rstar()
        m, r = self.m, self.r_star_
        return map_signals(
            self.df, ("doc_id",), "tokens", "sampen double, se_sampen double",
            lambda v: cp_sampen_se(v, m, r),
        )
