"""Bubble-Entropy projection over the array row layout — one point per
signal (kernels/bubble.py; Manis et al. 2017), the same zero-shuffle
mapInArrow shape as the SampEn/PermEn/ApEn/FuzzyEn projections.  Rank
arithmetic only: no tolerance parameter, no normalization pass."""

from __future__ import annotations

from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals

__all__ = ["bubble_points"]


def bubble_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    m: int = 4,
) -> DataFrame:
    """(``*keep_cols``, n, h_m, h_m1, bubble) — one row per signal.
    Too-short signals (n < m + 1) emit NULLs (never NaN)."""
    import numpy as np

    from eristropy_spark.kernels.bubble import bubble_entropy, swap_renyi2

    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")

    def _bubble(v):
        n = 0 if v is None else int(v.size)
        if n < m + 1:
            return n, None, None, None
        x = np.asarray(v, dtype=np.float64)
        return n, swap_renyi2(x, m), swap_renyi2(x, m + 1), bubble_entropy(x, m=m)

    fields = "n int, h_m double, h_m1 double, bubble double"
    return map_signals(df, keep_cols, array_col, fields, _bubble)
