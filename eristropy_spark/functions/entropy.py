"""Arrow-vectorized entropy UDFs over `tokens: array<int32>` columns.

This is the engine's single JVM→Python boundary for entropy analytics.
Each UDF is a scalar ``pandas_udf``: one input row = one whole sequence
(the array layout means a "group" is already colocated in a row —
**zero shuffle**, unlike a groupBy+applyInPandas formulation of the
reference's ``df.groupby(signal_id)`` loops, e.g.
sample_entropy.py:120, stationarity.py:150).

Parameters (m, r, p, …) are passed as literal columns so one compiled
UDF body serves every (m, r) trial of the optimizer — the plan stays
cacheable and the Python workers stay warm.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# explicit StructType (not a DDL string): DDL parsing needs an active
# SparkSession at decoration/import time, which breaks module imports
_ENTROPY_STRUCT = StructType(
    [StructField("sampen", DoubleType()), StructField("permen", DoubleType())]
)

from eristropy_spark.kernels import adf as adf_kernel
from eristropy_spark.kernels.permen import permen_many
from eristropy_spark.kernels.rng import sequence_rng
from eristropy_spark.kernels.sampen import bootstrap_mse, sampen_se
from eristropy_spark.kernels.sampen_batch import sampen_many

__all__ = [
    "sampen_udf",
    "permen_udf",
    "entropy_struct_udf",
    "sampen_se_udf",
    "bootstrap_mse_udf",
    "make_transform_adf_udf",
]


def _as_f8(arr) -> np.ndarray:
    return np.asarray(arr, dtype=np.float64)


@F.pandas_udf(DoubleType())
def sampen_udf(
    tokens: pd.Series, m: pd.Series, r: pd.Series, normalize: pd.Series
) -> pd.Series:
    """SampEn(tokens; m, r) per row (kernel parity: utils.py:144-193).

    Dispatches to the batch-vectorized kernel (kernels/sampen_batch.py)
    — all rows of the Arrow batch advance through the O(n²) sweep as
    one matrix, ~5-20x faster than per-row loops without Numba.
    ``normalize=True`` z-normalizes (ddof=1) inside the kernel,
    bit-identical to the reference's normalize-then-SampEn pipeline.
    ``m`` and ``normalize`` are constant per batch in every engine plan
    (they are literals); rows are grouped by (m, normalize) anyway for
    API safety.
    """
    out = np.full(len(tokens), np.nan, dtype=np.float64)
    m_v, r_v, nz = m.to_numpy(), r.to_numpy(), normalize.to_numpy()
    seq_list = list(tokens)
    for key in {(int(mi), bool(zi)) for mi, zi in zip(m_v, nz)}:
        mask = (m_v == key[0]) & (nz == key[1])
        idx = np.nonzero(mask)[0]
        subset = [seq_list[i] for i in idx]
        out[idx] = sampen_many(subset, key[0], r_v[idx], normalize=key[1])
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def permen_udf(tokens: pd.Series, m: pd.Series, delay: pd.Series) -> pd.Series:
    """Bandt–Pompe permutation entropy per row (normalized to [0,1]).

    Rows are grouped by (m, delay) so each group runs through the
    batch-vectorized ``permen_many`` (bit-identical to the scalar
    kernel); call sites pass literals, so there is one group per batch.
    """
    out = np.full(len(tokens), np.nan, dtype=np.float64)
    m_v, d_v = m.to_numpy(), delay.to_numpy()
    seq_list = list(tokens)
    for key in {(int(mi), int(di)) for mi, di in zip(m_v, d_v)}:
        idx = np.nonzero((m_v == key[0]) & (d_v == key[1]))[0]
        subset = [seq_list[i] for i in idx]
        out[idx] = permen_many(subset, key[0], key[1], normalize=True)
    return pd.Series(out)


@F.pandas_udf(_ENTROPY_STRUCT)
def entropy_struct_udf(
    tokens: pd.Series,
    m: pd.Series,
    r: pd.Series,
    normalize: pd.Series,
    permen_m: pd.Series,
    permen_delay: pd.Series,
) -> pd.DataFrame:
    """SampEn + PermEn in ONE UDF — the hot path for entropy_points.

    Chaining two scalar UDFs makes Spark ship the tokens array across
    the Arrow boundary once per UDF; computing both metrics here halves
    the transfer and shares the per-row iteration.  Results are
    bit-identical to sampen_udf/permen_udf (equivalence-tested).

    Contract: ``m`` and ``normalize`` must be literal (batch-constant)
    columns — every operator call site passes F.lit — because the batch
    kernel runs one (m, normalize) configuration per call.
    """
    n = len(tokens)
    seq_list = list(tokens)
    m0 = int(m.iloc[0]) if n else 2
    nz0 = bool(normalize.iloc[0]) if n else False
    s_out = sampen_many(seq_list, m0, r.to_numpy(), normalize=nz0)
    pm0 = int(permen_m.iloc[0]) if n else 3
    pd0 = int(permen_delay.iloc[0]) if n else 1
    p_out = permen_many(seq_list, pm0, pd0, normalize=True)
    return pd.DataFrame({"sampen": s_out, "permen": p_out})


@F.pandas_udf(DoubleType())
def sampen_se_udf(
    doc_id: pd.Series,
    tokens: pd.Series,
    m: pd.Series,
    r: pd.Series,
    p: pd.Series,
    n_boot: pd.Series,
    seed: pd.Series,
) -> pd.Series:
    """Bootstrap SE(SampEn) per row (sample_entropy.py:232-248).

    RNG is derived from (seed, doc_id) so the result is independent of
    partitioning (SURVEY.md §7.3 hazard 6).
    """
    out = np.empty(len(tokens), dtype=np.float64)
    for i in range(len(tokens)):
        seq = tokens.iloc[i]
        if seq is None:
            out[i] = np.nan
            continue
        rng = sequence_rng(int(seed.iloc[i]), str(doc_id.iloc[i]))
        out[i] = sampen_se(
            _as_f8(seq),
            int(m.iloc[i]),
            float(r.iloc[i]),
            float(p.iloc[i]),
            int(n_boot.iloc[i]),
            rng,
        )
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def bootstrap_mse_udf(
    doc_id: pd.Series,
    tokens: pd.Series,
    m: pd.Series,
    r: pd.Series,
    p: pd.Series,
    n_boot: pd.Series,
    seed: pd.Series,
) -> pd.Series:
    """Bootstrap SampEn MSE per row (sample_entropy.py:205-230)."""
    out = np.empty(len(tokens), dtype=np.float64)
    for i in range(len(tokens)):
        seq = tokens.iloc[i]
        if seq is None:
            out[i] = np.nan
            continue
        rng = sequence_rng(int(seed.iloc[i]), str(doc_id.iloc[i]))
        out[i] = bootstrap_mse(
            _as_f8(seq),
            int(m.iloc[i]),
            float(r.iloc[i]),
            float(p.iloc[i]),
            int(n_boot.iloc[i]),
            rng,
        )
    return pd.Series(out)


from pyspark.sql.types import ArrayType

_TRANSFORM_ADF_STRUCT = StructType(
    [
        StructField("tokens", ArrayType(DoubleType())),
        StructField("pvalue", DoubleType()),
    ]
)


def make_transform_adf_udf(transform_fn):
    """Fused (stationarity transform → ADF p-value) struct UDF.

    The unfused plan crossed the Arrow boundary twice — transform UDF,
    then ADF UDF over the transformed array (token arrays serialized
    JVM→Python→JVM→Python).  One struct UDF halves the boundary traffic
    of the stationarity pipeline's expensive pass.  Failure semantics
    match the unfused path exactly: transform ValueError → (None, 1.0);
    ADF estimation failure → p=1.0 (reference stationarity.py:158-163).
    """

    @F.pandas_udf(_TRANSFORM_ADF_STRUCT)
    def transform_adf_udf(tokens: pd.Series) -> pd.DataFrame:
        toks_out: list = []
        p_out: list = []
        for seq in tokens:
            if seq is None:
                toks_out.append(None)
                p_out.append(1.0)
                continue
            x = np.asarray(seq, dtype=np.float64)
            try:
                t = transform_fn(x)
            except ValueError:
                toks_out.append(None)
                p_out.append(1.0)
                continue
            toks_out.append(t)
            try:
                p_out.append(adf_kernel.adfuller(t)[1])
            except (ValueError, np.linalg.LinAlgError):
                p_out.append(1.0)
        return pd.DataFrame({"tokens": toks_out, "pvalue": p_out})

    return transform_adf_udf
