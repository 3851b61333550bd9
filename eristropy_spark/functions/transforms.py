"""Arrow UDF for the GP stationarity transform over token arrays.

Difference and z-norm run JVM-side (``eristropy_spark.functions.arrays``
and the window forms in the operators); GP detrending needs the
posterior-residual kernel (kernels/gp.py), so it crosses into Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from eristropy_spark.kernels.gp import detrend_gp

__all__ = ["make_detrend_gp_udf"]

_ARR = ArrayType(DoubleType())


def _map_arrays(tokens: pd.Series, fn) -> pd.Series:
    out = []
    for seq in tokens:
        if seq is None:
            out.append(None)
            continue
        x = np.asarray(seq, dtype=np.float64)
        try:
            out.append(fn(x))
        except ValueError:
            out.append(None)
    return pd.Series(out)


def make_detrend_gp_udf(ls_vals: np.ndarray, n_splits: int = 5, eps: float = 1e-6):
    """GP-detrend UDF with the candidate length-scales baked in.

    Mirrors the reference's topology: ls candidates are drawn ONCE on
    the driver (gp.py:526) and shared by every sequence; here they are
    closure-captured, so they ship to executors in the serialized UDF
    (the Spark analogue of a broadcast for this tiny array).
    """
    ls_vals = np.asarray(ls_vals, dtype=np.float64)

    @F.pandas_udf(_ARR)
    def detrend_gp_udf(tokens: pd.Series) -> pd.Series:
        return _map_arrays(
            tokens, lambda x: detrend_gp(x, ls_vals, n_splits=n_splits, eps=eps)
        )

    return detrend_gp_udf
