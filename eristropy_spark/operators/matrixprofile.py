"""Matrix profile per signal — the nearest-neighbor distance profile of
Yeh et al. 2016 ("Matrix Profile I", ICDM) / Zhu et al. STOMP: for every
length-``w`` window of a sequence, the z-normalized Euclidean distance
to its most similar OTHER window (outside a trivial-match exclusion
zone).  The profile is the workhorse of motif discovery, discord
(anomaly) detection, and segmentation on time series — a capability the
reference engine lacks entirely (its per-signal statistics stop at
whole-sequence entropies).

Determinism protocol (exact-integer sufficient statistics): tokens are
int32, so every sufficient statistic is an EXACT integer —

    S_i  = Σ window           (int64)
    Q_i  = Σ window²          (int64)
    T_ij = Σ x[i+k]·x[j+k]    (int64, sliding dot product)
    v_i  = w·Q_i − S_i²       (int64, w² × population variance)

and the distance is ONE fixed float expression over them:

    d_ij = sqrt( max( 2w·(1 − (w·T_ij − S_i·S_j)
                           / sqrt(double(v_i)·double(v_j))), 0 ) )

Each step (int→double of a < 2⁵³ integer, one product, one division,
two sqrts) is a correctly-rounded IEEE-754 op, so an independent SQL
engine replaying the same expression tree reproduces every double
bit-for-bit; the 6-dp quantization of the output is belt-and-braces.
A fail-loud guard rejects inputs where w·max(|token|)² could push any
statistic past 2⁵² (silent precision loss otherwise).

Argmin convention: the admissible neighbor set is
``|i − j| >= min_sep`` (default ``max(1, w // 4)`` — the standard w/4
trivial-match exclusion zone) with ``v_j > 0`` (flat windows carry no
z-normalized shape); ties on the quantized distance break toward the
SMALLEST j on both engines.  Positions with v_i = 0 or an empty
admissible set emit NULL (nn_idx, dist) but keep their row, so the
profile always has n − w + 1 rows per signal.

Scale shape: ONE ``mapInArrow`` boundary over the array layout — zero
shuffles beyond the upstream tokenize.  Per-task cost is O(P²·w) ints
+ O(P²) doubles for P = n − w + 1 windows, the same task-time bound
class as SampEn's O(n²); at 100 TB long sequences go through
``operators.windowed`` slicing first, exactly like the entropy kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals

__all__ = ["matrix_profile"]

_EXACT_MAX = float(2**52)


def matrix_profile(
    df: DataFrame,
    array_col: str = "tokens",
    w: int = 16,
    min_sep: int | None = None,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, pos, nn_idx, dist) — one row per window position
    (0-based) per signal; signals shorter than ``w`` emit no rows.
    See the module docstring for the exact semantics.
    """
    if w < 2:
        raise ValueError(f"window w must be >= 2, got {w}")
    sep = max(1, w // 4) if min_sep is None else int(min_sep)
    if sep < 1:
        raise ValueError(f"min_sep must be >= 1, got {min_sep}")

    wf = float(w)
    two_w = 2.0 * wf

    def _profile(v):
        if v is None or v.size < w:
            return []
        x = np.ascontiguousarray(v, dtype=np.int64)
        amax = float(np.abs(x).max()) if x.size else 0.0
        if wf * amax * amax > _EXACT_MAX:
            raise ValueError(
                "matrix_profile exact-integer protocol needs "
                f"w*max(|token|)^2 <= 2^52; got w={w}, "
                f"max|token|={amax:.0f} — rescale the tokens or "
                "shrink w"
            )
        P = x.size - w + 1
        A = np.lib.stride_tricks.sliding_window_view(x, w)
        # exact int64 sufficient statistics
        T = A @ A.T
        S = A.sum(axis=1)
        Q = (A * A).sum(axis=1)
        varn = w * Q - S * S  # >= 0
        num = (w * T - np.outer(S, S)).astype(np.float64)
        vf = varn.astype(np.float64)
        den = np.sqrt(vf[:, None] * vf[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            d2 = two_w * (1.0 - num / den)
        d = np.sqrt(np.maximum(d2, 0.0))
        d6 = np.floor(d * 1e6 + 0.5) / 1e6
        # admissibility: outside the exclusion zone, non-flat j
        idx = np.arange(P)
        admiss = np.abs(idx[:, None] - idx[None, :]) >= sep
        admiss &= (varn > 0)[None, :]
        d6 = np.where(admiss, d6, np.inf)
        has = admiss.any(axis=1) & (varn > 0)
        nn = np.where(has, d6.argmin(axis=1), -1).astype(np.int64)
        best = np.where(has, d6[idx, nn], np.nan)
        nn_idx = [j if j >= 0 else None for j in nn.tolist()]
        return list(zip(idx.tolist(), nn_idx, best.tolist()))

    return map_signals(
        df, keep_cols, array_col, "pos int, nn_idx int, dist double", _profile,
        explode=True,
    )
