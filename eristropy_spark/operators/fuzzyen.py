"""Fuzzy-Entropy projection over the array row layout — one FuzzyEn
point per signal (kernels/fuzzyen.py; Chen et al. 2007), the same
zero-shuffle mapInArrow shape as the SampEn/PermEn/ApEn projections:
each signal is one row carrying its token array, the O(n²·m) kernel
runs vectorized per row, and nothing shuffles beyond the tokenize
layout's own exchange."""

from __future__ import annotations

from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals

__all__ = ["fuzzyen_points"]


def fuzzyen_points(
    df: DataFrame,
    array_col: str = "tokens",
    keep_cols: tuple[str, ...] = ("doc_id",),
    m: int = 2,
    r: float = 0.2,
    normalize: bool = True,
) -> DataFrame:
    """(``*keep_cols``, n, fuzzyen) — one row per signal.
    ``normalize`` z-norms each signal first (ddof=1).  Constant or
    too-short signals emit NULL fuzzyen (never NaN)."""
    import numpy as np

    from eristropy_spark.kernels.fuzzyen import fuzzyen, fuzzyen_znormed

    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    fn = fuzzyen_znormed if normalize else fuzzyen

    def _fuzzyen(v):
        n = 0 if v is None else int(v.size)
        return n, fn(np.asarray(v, dtype=np.float64), m=m, r=r) if n else None

    return map_signals(df, keep_cols, array_col, "n int, fuzzyen double", _fuzzyen)
