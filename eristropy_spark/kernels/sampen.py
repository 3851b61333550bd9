"""Scalar SampEn and its stationary-bootstrap MSE / SE.

Every SampEn here is counted by the one batch kernel,
:func:`eristropy_spark.kernels.sampen_batch.sampen_many` (lag-major
sweep; the module docstring there has the layout and the reference
semantics): :func:`sampen` is a one-sequence call, and the bootstrap
replicates go through it in one call.
"""

from __future__ import annotations

import numpy as np

from eristropy_spark.kernels.bootstrap import stationary_bootstrap
from eristropy_spark.kernels.sampen_batch import sampen_many
from eristropy_spark.kernels.stats import mean_squared_error, standard_error

__all__ = ["sampen", "bootstrap_mse", "sampen_se"]


def sampen(x: np.ndarray, m: int, r: float) -> float:
    """SampEn(x; m, r) with reference semantics (utils.py:144-193);
    NaN for fewer than 2 samples, ``ValueError`` for m < 1."""
    return float(sampen_many([x], m, r)[0])


def _sampen_rows(X: np.ndarray, m: int, r: float) -> np.ndarray:
    """SampEn of every row of an equal-length matrix (the bootstrap
    replicates) in one batch call."""
    return sampen_many(X, m, float(r))


def bootstrap_mse(
    x: np.ndarray,
    m: int,
    r: float,
    p: float,
    n_boot: int,
    rng: np.random.Generator,
) -> float:
    """Estimated SampEn MSE under the stationary bootstrap.

    Reference: sample_entropy.py:205-230 (``_bootstrap_mse``).  The
    reference draws from one *global* Numba RNG; we take an explicit
    per-sequence ``rng`` so results are reproducible independent of
    partitioning/iteration order (SURVEY.md §7.3 hazard 6).
    """
    X = stationary_bootstrap(x, p, n_boot, rng)
    shat = _sampen_rows(X, m, r)
    strue = sampen(x, m, r)
    return mean_squared_error(np.full(n_boot, strue), shat)


def sampen_se(
    x: np.ndarray,
    m: int,
    r: float,
    p: float,
    n_boot: int,
    rng: np.random.Generator,
) -> float:
    """Bootstrap SE(SampEn) — population SD of n_boot bootstrap SampEns.

    Reference: sample_entropy.py:232-248 (``_sampen_se``); SD is ddof=0
    via ``_standard_error`` (utils.py:25-35).
    """
    X = stationary_bootstrap(x, p, n_boot, rng)
    shat = _sampen_rows(X, m, r)
    return standard_error(shat)
