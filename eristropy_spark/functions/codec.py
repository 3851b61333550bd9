"""Arrow UDF check for the Gorilla codec over token columns.

``tokens_roundtrip_ok_udf`` runs encode → decode
(kernels/gorilla.py — Pelkonen et al. VLDB'15) inside Arrow batches, so
the bitstreams never leave the executor as Python objects row-by-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from eristropy_spark.kernels.gorilla import decode_ints, encode_ints

__all__ = ["tokens_roundtrip_ok_udf"]


@F.pandas_udf(BooleanType())
def tokens_roundtrip_ok_udf(tokens: pd.Series) -> pd.Series:
    """Token-array-equality invariant: decode(encode(x)) == x per row."""
    out = []
    for seq in tokens:
        if seq is None:
            out.append(False)
            continue
        x = np.asarray(seq, dtype=np.int64)
        out.append(bool(np.array_equal(decode_ints(encode_ints(x)), x)))
    return pd.Series(out)
