"""Dynamic-time-warping distance between signal pairs.

``dtw_pairs`` — Sakoe & Chiba 1978 (IEEE TASSP 26) / Berndt &
Clifford 1994 (KDD workshop): the classic elastic alignment distance

    dtw(u, v) = min over monotone alignment paths of
                sum |u_i - v_j|   (unit step costs, L1 ground metric)

with the standard dp recurrence
``dp[i][j] = c[i][j] + min(dp[i-1][j], dp[i][j-1], dp[i-1][j-1])``.
The pairwise elastic complement of ``crosscorr_pairs`` (lag-rigid) and
``cross_sampen_pairs`` (pattern-count): DTW tolerates local tempo
drift between two token sequences, the "same content, different
pacing" near-match a training-data curation pass wants to see.

Exactness contract: token costs are |int - int| and every dp cell is
int64, so the distance is EXACT INTEGER arithmetic end-to-end —
bit-portable across engines and replayable in SQL (the contract
oracle unrolls the row recurrence into chained window-function CTEs
using the entry-point min-plus identity below).

Row-sweep identity (what both the vectorized kernel and the SQL
replay compute): any path reaching ``dp[i][j]`` entered row ``i`` at
some column ``k <= j`` (from above or diagonally) and then moved
horizontally, so with row prefix costs ``S[j] = sum(c[i][1..j])``

    dp[i][j] = S[j] + min_{k<=j}( min(dp[i-1][k], dp[i-1][k-1]) - S[k-1] )

— a prefix sum plus a running min, O(L) vectorized per row instead of
a per-cell scalar loop.

Scale shape: pairs form within a small per-key label set (sources per
user — NEVER all-signals x all-signals) via one self-join; arrays are
truncated to ``max_len`` BEFORE the join (narrower shuffle rows, and
the O(max_len²) per-pair dp bound is explicit — same task-bound class
as cross-SampEn's O(nu·nv)); the dp runs vectorized inside ONE
``mapInArrow`` boundary.  An optional Sakoe–Chiba ``band`` further
cuts per-pair work to O(L·band) and is the knob to reach for first at
longer L.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.signals import map_signals

__all__ = ["dtw_kernel", "dtw_pairs"]

# Unreachable-path sentinel: far above any real cost (max_len·|Δtok|
# is ≪ 2^40 for int32 tokens at any sane max_len) yet far below int64
# overflow even after per-row prefix-sum creep (BIG + L·|Δtok| ≪ 2^63).
_BIG = np.int64(1) << np.int64(40)


def dtw_kernel(
    u: np.ndarray, v: np.ndarray, band: int | None = None
) -> int | None:
    """Exact-int64 DTW distance for one pair; None on empty input or a
    band too narrow to connect the corners (band < |len(u)-len(v)|).

    ``band`` is the Sakoe–Chiba radius: cells with |i - j| > band are
    forbidden.  Because the allowed cells form a contiguous column
    interval per row, masking the entry terms and the finished row at
    the same interval is exactly path-feasibility (a horizontal run
    between two in-band columns never leaves the band).
    """
    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    la, lb = u.size, v.size
    if la == 0 or lb == 0:
        return None
    if band is not None and band < 0:
        raise ValueError(f"band must be >= 0, got {band}")
    prev = np.full(lb, _BIG, dtype=np.int64)
    j1 = np.arange(1, lb + 1, dtype=np.int64)
    for i in range(la):
        c = np.abs(u[i] - v)
        s = np.concatenate(([0], np.cumsum(c)))
        prev0 = np.int64(0) if i == 0 else _BIG
        f = np.minimum(prev, np.concatenate(([prev0], prev[:-1])))
        g = f - s[:-1]
        if band is not None:
            out = np.abs((i + 1) - j1) > band
            g = np.where(out, _BIG, g)
        dp = s[1:] + np.minimum.accumulate(g)
        if band is not None:
            dp = np.where(out, _BIG, dp)
        # clamp so sentinel cells don't accumulate prefix-sum creep
        # across rows (keeps the unreachable marker recognizable)
        prev = np.minimum(dp, _BIG)
    d = int(prev[-1])
    return None if d >= int(_BIG) else d


def dtw_pairs(
    df: DataFrame,
    key_col: str = "user",
    label_col: str = "source",
    array_col: str = "tokens",
    max_len: int = 64,
    band: int | None = None,
) -> DataFrame:
    """(key, src_a, src_b, n_a, n_b, dtw, dtw_norm) — one row per
    unordered label pair (src_a < src_b) within each key.

    ``dtw`` is the exact int64 distance over the first ``max_len``
    tokens of each sequence; ``dtw_norm = dtw / (n_a + n_b)`` is the
    path-length-normalized double.  Both NULL when a pair is empty or
    band-unreachable.
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    if band is not None and band < 0:
        raise ValueError(f"band must be >= 0, got {band}")
    trunc = F.slice(F.col(array_col), 1, max_len)
    a = df.select(
        F.col(key_col).alias("key"),
        F.col(label_col).alias("src_a"),
        trunc.alias("_u"),
    )
    b = df.select(
        F.col(key_col).alias("key"),
        F.col(label_col).alias("src_b"),
        trunc.alias("_v"),
    )
    pairs = a.join(b, "key").filter(F.col("src_a") < F.col("src_b"))

    def _dtw(u, v):
        nu = 0 if u is None else int(u.size)
        nv = 0 if v is None else int(v.size)
        d = None if nu == 0 or nv == 0 else dtw_kernel(u, v, band)
        return nu, nv, d, None if d is None else d / (nu + nv)

    fields = "n_a int, n_b int, dtw bigint, dtw_norm double"
    return map_signals(pairs, ("key", "src_a", "src_b"), ("_u", "_v"), fields, _dtw)
