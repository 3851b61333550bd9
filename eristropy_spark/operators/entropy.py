"""Per-sequence entropy operator — the engine's flagship analytic and
its one entropy projection.

Reference parity: the final pass of
``SampleEntropy.compute_all_sampen`` (sample_entropy.py:346-402) —
one output row per signal with ``sampen`` (and optionally
``se_sampen``) — plus PermEn, which the reference advertises but never
shipped (SURVEY.md §2.6 E16).

Plan shape: ONE ``map_signals`` (mapInArrow) over the token table —
each sequence is one row, so there is **no shuffle**; the token list
column is consumed as per-row views over the Arrow values buffer in its
native dtype, and the batch kernels run once per Arrow batch.  The
raw rollup tier (``rollup.entropy_points``), ``windowed_entropy`` and
``SampleEntropyOp``'s final pass are this projection.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals
from eristropy_spark.kernels.permen import permen_many
from eristropy_spark.kernels.rng import sequence_rng
from eristropy_spark.kernels.sampen import sampen_se
from eristropy_spark.kernels.sampen_batch import sampen_many

__all__ = ["compute_entropy", "bootstrap_stat"]


def bootstrap_stat(stat, m: int, r: float, p: float, n_boot: int, seed: int):
    """Per-signal closure: ``stat`` (bootstrap_mse or sampen_se) under the
    (seed, doc_id)-keyed RNG, NaN for a NULL signal."""

    def _one(v, doc_id):
        if v is None:
            return np.nan
        x = np.asarray(v, dtype=np.float64)
        return stat(x, m, r, p, n_boot, sequence_rng(seed, str(doc_id)))

    return _one


def compute_entropy(
    tokens_df: DataFrame,
    m: int = 2,
    r: float = 0.2,
    permen_m: int | None = 3,
    permen_delay: int = 1,
    estimate_uncertainty: bool = False,
    p: float = 0.5,
    n_boot: int = 100,
    seed: int = 0,
    keep_cols: tuple[str, ...] = ("source",),
    normalize: bool = False,
) -> DataFrame:
    """(doc_id, [keep_cols...,] sampen[, permen][, se_sampen]) per sequence;
    ``permen_m=None`` leaves the PermEn column out and does not run it.

    ``r`` is an absolute tolerance on the (float64-cast) token scale,
    matching the reference's convention of applying r to the signal's
    own units.  With ``normalize=True`` each sequence is z-normalized
    (ddof=1) inside the SampEn kernel — NumPy-side, mirroring the
    reference's ``normalize_signals=True`` default
    (stationarity.py:278-281).  PermEn is invariant under the affine
    z-norm (ordinal patterns are order statistics), so it always runs
    on the raw sequence.  ``se_sampen`` is the bootstrap SE
    (sample_entropy.py:232-248) with its RNG keyed by (seed, doc_id), so
    it does not depend on partitioning (SURVEY.md §7.3 hazard 6).
    """
    r, p = float(r), float(p)
    arrays, fields = ["tokens"], "sampen double"
    if permen_m is not None:
        fields += ", permen double"
    if estimate_uncertainty:
        arrays.append("doc_id")
        fields += ", se_sampen double"
        se = bootstrap_stat(sampen_se, m, r, p, n_boot, seed)

    def _entropies(views, doc_ids=()):
        cols = [sampen_many(views, m, r, normalize=normalize)]
        if permen_m is not None:
            cols.append(permen_many(views, permen_m, permen_delay, normalize=True))
        if estimate_uncertainty:
            cols.append([se(v, d) for v, d in zip(views, doc_ids)])
        return cols

    return map_signals(
        tokens_df, ("doc_id", *keep_cols), arrays, fields, _entropies, batched=True
    )
