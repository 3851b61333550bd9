"""Per-sequence objectives of the SampEn-efficiency r-selection
(reference extras.py), run by ``operators/extras.SampEnEfficiencyOp``
through ``map_signals``.

``efficiency_grid`` returns a sequence's whole |r-grid| objective
vector in one call (the sheared match geometry is shared across the
grid inside kernels/lake.cp_mean_sd_grid), so each token array crosses
the Arrow boundary once, vs the reference's quadratic re-filtering loop
(extras.py:232-236, hazard 8) and the round-1 explode-before-UDF plan
that shipped each array |grid| times.
"""

from __future__ import annotations

import math

import numpy as np

from eristropy_spark.kernels.lake import cp_mean_sd, cp_mean_sd_grid
from eristropy_spark.kernels.rng import sequence_rng
from eristropy_spark.kernels.sampen import sampen, sampen_se

__all__ = [
    "counting_obj",
    "bootstrap_obj",
    "efficiency_grid",
    "cp_sampen_se",
]


def _obj_from_cp(cp: float, s_cp: float) -> float:
    """max(s/cp, (s/cp)/SampEn) given a (CP, SD) pair (extras.py:193-208)."""
    try:
        a = s_cp / cp
    except ZeroDivisionError:
        return float("nan")
    if cp == 1.0:
        return max(a, 0.0)
    return max(a, a / (-math.log(cp)))


def counting_obj(x: np.ndarray, m: int, r: float) -> float:
    """Counting objective from the Lake analytic CP (extras.py:193-208)."""
    try:
        cp, s_cp = cp_mean_sd(x, m, r)
    except (ZeroDivisionError, ValueError):
        return float("nan")
    return _obj_from_cp(cp, s_cp)


def bootstrap_obj(
    x: np.ndarray, m: int, r: float, p: float, n_boot: int, rng
) -> float:
    """max(se, se/sampen) from the stationary bootstrap (extras.py:210-219);
    NaN when SampEn is 0 (a constant or period-2 signal), as the counting
    objective gives for a zero CP."""
    se = sampen_se(x, m, r, p, n_boot, rng)
    try:
        return max(se, se / sampen(x, m, r))
    except ZeroDivisionError:
        return float("nan")


def efficiency_grid(
    x, doc_id, rs, m: int, use_bootstrap: bool, p: float, n_boot: int, seed: int
) -> list[float]:
    """The efficiency objective of one sequence at EVERY grid r (NaN for
    a NULL sequence).  The counting objective shares the sheared match
    geometry across the grid (kernels/lake.cp_mean_sd_grid: one geometry
    pass + |grid| cheap compares); the bootstrap objective keys its RNG
    by (seed, doc_id, r)."""
    if x is None:
        return [float("nan")] * len(rs)
    x = np.asarray(x, dtype=np.float64)
    if use_bootstrap:
        return [
            bootstrap_obj(x, m, r, p, n_boot, sequence_rng(seed, f"{doc_id}|r={r}"))
            for r in rs
        ]
    try:
        grid = cp_mean_sd_grid(x, m, rs)
    except ValueError:
        return [float("nan")] * len(rs)
    return [_obj_from_cp(cp, s_cp) for cp, s_cp in grid]


def cp_sampen_se(x, m: int, r: float) -> tuple[float, float]:
    """(-log cp, s/cp) at the selected r (extras.py:244-248); NaN for a
    NULL or degenerate sequence."""
    if x is not None:
        try:
            cp, s_cp = cp_mean_sd(np.asarray(x, dtype=np.float64), m, r)
            return -math.log(cp), s_cp / cp
        except (ZeroDivisionError, ValueError):
            pass
    return float("nan"), float("nan")
