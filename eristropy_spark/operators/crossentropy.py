"""Cross-sample entropy between signal pairs.

``cross_sampen_pairs`` — Richman & Moorman 2000 (Am J Physiol 278,
the paper that defines SampEn itself, §"cross-SampEn"): the asynchrony
measure between TWO series.  Template vectors come from one series
and matches are counted in the other:

    B = #{(i, j) : max_k |zu_{i+k} − zv_{j+k}| < r,  k < m}
    A = same with m+1
    cross_sampen = −ln(A / B)

over INDEPENDENTLY z-normalized series (each by its own mean and
sample std — the published normalization; cross-SampEn is otherwise
scale-sensitive).  Low values = the two signals track each other's
patterns (synchrony); high = pattern-independent.  The pairwise
complement of the within-signal SampEn kernel, the same way
``crosscorr_pairs`` complements ``acf_long``.

Conventions pinned to the repo's SampEn kernel (kernels/sampen.py):
strict ``< r`` matching, and both counts run over the extendable
template range i ≤ nu−m−1, j ≤ nv−m−1 (B excludes final-sample right
endpoints, so A/B is a true conditional probability).  NULL when
either count is 0 or either series is degenerate (zero variance).

Scale shape: pairs form within a small per-key label set (sources per
user — NEVER all-signals × all-signals), via one self-join carrying
token arrays keyed by the pair key; the O(nu·nv) match count runs
vectorized inside ONE ``mapInArrow`` boundary (same task-bound class
as SampEn's O(n²) — cap sequence length upstream via
``events_to_tokens(max_tokens=...)`` or ``operators.windowed``).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.functions.signals import map_signals

__all__ = ["cross_sampen_pairs"]


def cross_sampen_kernel(
    u: np.ndarray, v: np.ndarray, m: int, r: float
) -> tuple[int, int, float | None]:
    """(b_cnt, a_cnt, cse) for one pair — broadcast Chebyshev counts
    over the z-normed series; None cse on degenerate input."""
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    nu, nv = u.size, v.size
    if nu < m + 1 or nv < m + 1:
        return 0, 0, None
    su, sv = u.std(ddof=1), v.std(ddof=1)
    if su == 0.0 or sv == 0.0:
        return 0, 0, None
    zu = (u - u.mean()) / su
    zv = (v - v.mean()) / sv
    # extendable template starts: i + m <= n-1, i.e. n - m of them —
    # the same "B excludes final-sample right endpoints" bound as
    # kernels/sampen.py
    ni, nj = nu - m, nv - m
    within = np.ones((ni, nj), dtype=bool)
    for k in range(m):
        within &= (
            np.abs(zu[k : k + ni, None] - zv[None, k : k + nj]) < r
        )
    b_cnt = int(within.sum())
    ext = within & (
        np.abs(zu[m : m + ni, None] - zv[None, m : m + nj]) < r
    )
    a_cnt = int(ext.sum())
    cse = -math.log(a_cnt / b_cnt) if a_cnt > 0 and b_cnt > 0 else None
    return b_cnt, a_cnt, cse


def cross_sampen_pairs(
    df: DataFrame,
    m: int = 1,
    r: float = 0.2,
    key_col: str = "user",
    label_col: str = "source",
    array_col: str = "tokens",
) -> DataFrame:
    """(key, src_a, src_b, n_a, n_b, b_cnt, a_cnt, cse) — one row per
    unordered label pair (src_a < src_b) within each key."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if r <= 0:
        raise ValueError(f"r must be > 0, got {r}")
    a = df.select(
        F.col(key_col).alias("key"),
        F.col(label_col).alias("src_a"),
        F.col(array_col).alias("_u"),
    )
    b = df.select(
        F.col(key_col).alias("key"),
        F.col(label_col).alias("src_b"),
        F.col(array_col).alias("_v"),
    )
    pairs = a.join(b, "key").filter(F.col("src_a") < F.col("src_b"))

    def _cse(u, v):
        nu = 0 if u is None else int(u.size)
        nv = 0 if v is None else int(v.size)
        if nu == 0 or nv == 0:
            return nu, nv, 0, 0, None
        return (nu, nv, *cross_sampen_kernel(u, v, m, r))

    fields = "n_a int, n_b int, b_cnt bigint, a_cnt bigint, cse double"
    return map_signals(pairs, ("key", "src_a", "src_b"), ("_u", "_v"), fields, _cse)
