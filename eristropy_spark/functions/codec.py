"""Gorilla codec round-trip check over token columns.

``tokens_roundtrip_ok`` runs encode → decode (kernels/gorilla.py —
Pelkonen et al. VLDB'15) per signal inside one ``map_signals`` pass, so
the bitstreams never leave the executor.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals
from eristropy_spark.kernels.gorilla import decode_ints, encode_ints

__all__ = ["roundtrip_ok", "tokens_roundtrip_ok"]


def roundtrip_ok(seq) -> bool:
    """Token-array-equality invariant: decode(encode(x)) == x (False for
    a NULL array)."""
    if seq is None:
        return False
    x = np.asarray(seq, dtype=np.int64)
    return bool(np.array_equal(decode_ints(encode_ints(x)), x))


def tokens_roundtrip_ok(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, n_tok, ok) — one row per signal."""
    return map_signals(
        tokens_df, ("doc_id", "n_tok"), "tokens", "ok boolean",
        lambda v: (roundtrip_ok(v),),
    )
