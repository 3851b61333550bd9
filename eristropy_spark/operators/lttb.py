"""Largest-Triangle-Three-Buckets downsampling per signal (Steinarsson
2013, U. Iceland MSc thesis — the de-facto standard viz downsample,
alongside ``rollup.m4_downsample``): keep the first and last points,
split the interior into nb−2 index buckets, and from each bucket keep
the point forming the largest triangle with the PREVIOUSLY SELECTED
point and the centroid of the NEXT bucket.  Unlike M4 (which preserves
per-pixel extrema), LTTB preserves perceived SHAPE at a fixed point
budget — the downsample you want for dashboards over entropy rollups.

Exactness protocol: with integer coordinates (t = 1..n position,
v = token) the doubled-and-centroid-cleared triangle area

    area·2m = |(t_A·m − ΣT_next)·(v_B − v_A) − (t_A − t_B)·(ΣV_next − v_A·m)|

is an EXACT integer (m = next-bucket size; the last bucket anchors on
the final point, m = 1), so the greedy argmax chain is pure integer
comparisons — ties break toward the smaller index.  The selection is
stateful (the chosen A feeds the next bucket), which SQL replays the
same way the LZ76 oracle replays its parse: precompute the FULL
transition table argmax(bucket j | anchor A) for every candidate A in
bucket j−1 — O(Σ |b_{j−1}|·|b_j|) ≈ n²/nb pairs — then walk it with a
recursive CTE.  Bucketing uses the same integer map on both sides:
interior position p = t−2 ∈ [0, n−2) goes to bucket (p·(nb−2)) // (n−2).

Scale shape: ONE ``mapInArrow`` boundary over the array layout;
O(n) integer work per signal (each point sits in one bucket and joins
one argmax).  Signals with n <= nb pass through unchanged.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals

__all__ = ["lttb_downsample"]


def lttb_select(v: np.ndarray, nb: int) -> list[int]:
    """0-based indices kept by LTTB with t = position; exact-integer
    areas, smallest-index tie-break.  Returns all indices if n <= nb."""
    n = int(v.size)
    if n <= nb:
        return list(range(n))
    nbi = nb - 2
    ni = n - 2
    amax = int(np.abs(v).max()) if n else 0
    # area terms stay exact in int64: ~ n·m·2·max|v|
    if 4 * n * n * max(amax, 1) > 2**62:
        raise ValueError(
            "lttb exact-integer protocol needs 4·n²·max|v| <= 2^62 "
            f"(n={n}, max|v|={amax})"
        )
    p = np.arange(ni, dtype=np.int64)
    bucket = (p * nbi) // ni  # interior index -> bucket 0..nbi-1
    sel = [0]
    a = 0
    for j in range(nbi):
        members = np.nonzero(bucket == j)[0] + 1  # full 0-based indices
        if j < nbi - 1:
            nxt = np.nonzero(bucket == j + 1)[0] + 1
            m = int(nxt.size)
            st = int((nxt + 1).sum())  # t = index + 1
            sv = int(v[nxt].sum())
        else:
            m, st, sv = 1, n, int(v[n - 1])
        ta = a + 1
        va = int(v[a])
        tb = members + 1
        vb = v[members].astype(np.int64)
        areas = np.abs(
            (ta * m - st) * (vb - va) - (ta - tb) * (sv - va * m)
        )
        best = int(members[int(np.argmax(areas))])
        sel.append(best)
        a = best
    sel.append(n - 1)
    return sel


def lttb_downsample(
    df: DataFrame,
    array_col: str = "tokens",
    n_out: int = 8,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, t, v) — the selected points per signal, t the
    1-based position, v the token value.  Signals with n <= n_out emit
    every point."""
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")

    def _points(view):
        if view is None or view.size == 0:
            return []
        x = np.ascontiguousarray(view, dtype=np.int64)
        idx = np.asarray(lttb_select(x, n_out), dtype=np.int64)
        return list(zip((idx + 1).tolist(), x[idx].tolist()))

    return map_signals(
        df, keep_cols, array_col, "t int, v int", _points, explode=True
    )
