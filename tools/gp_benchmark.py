"""Reproduce the reference's ONLY published benchmark against this engine.

Reference: /root/reference/benchmark/gp_benchmark.py — GP detrending of
N synthetic linear-trend signals of length T (slope U(3/T, 5/T), noise
N(0, 0.1), seed 17; 10 length-scale candidates from U(10, 100)), Numba
vs sklearn, summarized in benchmark_results/gp_benchmark_summary.md
("two seconds versus 20 seconds" framing; grid N ∈ {100,200,400} at
T=50 and T ∈ {50,100,200} at N=50).

Here the same workload runs as one GP-detrend pandas UDF
(``make_detrend_gp_udf`` below) over a token table — the kernel
(kernels/gp.detrend_gp) that the stationarity pipeline's
``make_stationary`` reaches through its fused transform+ADF pass
(operators/stationarity.transform_adf).  Also reports a single-core
Python run of our kernel for an apples-to-apples "single-node"
comparison with the reference's published magnitudes.

Run: python tools/gp_benchmark.py   → GP_BENCH table on stdout.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import Row  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import ArrayType, DoubleType  # noqa: E402

from eristropy_spark.kernels.gp import detrend_gp  # noqa: E402
from eristropy_spark.runtime.session import get_spark  # noqa: E402


def make_detrend_gp_udf(ls_vals: np.ndarray, n_splits: int = 5, eps: float = 1e-6):
    """GP-detrend UDF with the candidate length-scales baked in.

    Mirrors the reference's topology: ls candidates are drawn ONCE,
    before any task runs, and shared by every sequence; here they are
    closure-captured, so they ship to executors in the serialized UDF
    (the Spark analogue of a broadcast for this tiny array).  A NULL
    sequence, or one the kernel rejects, gives NULL.
    """
    ls_vals = np.asarray(ls_vals, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def detrend_gp_udf(tokens: pd.Series) -> pd.Series:
        out = []
        for seq in tokens:
            if seq is None:
                out.append(None)
                continue
            x = np.asarray(seq, dtype=np.float64)
            try:
                out.append(detrend_gp(x, ls_vals, n_splits=n_splits, eps=eps))
            except ValueError:
                out.append(None)
        return pd.Series(out)

    return detrend_gp_udf


def benchmark_signals(t: int, n: int) -> dict[str, np.ndarray]:
    """The reference's generator, reshaped to per-signal vectors
    (gp_benchmark.py:10-47: slope U(3/t, 5/t), noise N(0, 0.1), seed 17)."""
    rng = np.random.default_rng(17)
    bs = rng.uniform(low=3 / t, high=5 / t, size=(n,))
    noise = rng.normal(loc=0.0, scale=0.1, size=(t, n))
    values = bs * np.tile(np.arange(t).reshape(-1, 1), (1, n)) + noise
    return {str(i): values[:, i] for i in range(n)}


def main() -> None:
    rng = np.random.default_rng(17)
    ls_vals = rng.uniform(10.0, 100.0, size=10)

    grid = [(100, 50), (200, 50), (400, 50), (50, 100), (50, 200)]

    # single-core kernel runs first, before any JVM exists (clean CPU);
    # warm numpy/BLAS once like the reference discards its JIT warmup run
    for x in benchmark_signals(10, 2).values():
        detrend_gp(x, ls_vals, n_splits=3, eps=1e-6)
    singles = {}
    for n, t in grid:
        sigs = benchmark_signals(t, n)
        t0 = time.perf_counter()
        for x in sigs.values():
            detrend_gp(x, ls_vals, n_splits=5, eps=1e-6)
        singles[(n, t)] = time.perf_counter() - t0

    spark = get_spark(cores=32)

    print("N,T,path,seconds")
    for n, t in grid:
        sigs = benchmark_signals(t, n)
        single = singles[(n, t)]

        # Spark path: one UDF projection over the token table
        rows = [
            Row(doc_id=k, tokens=[float(v) for v in x], n_tok=t, source="b")
            for k, x in sigs.items()
        ]
        df = spark.createDataFrame(rows).repartition(32).persist()
        df.count()
        udf = make_detrend_gp_udf(ls_vals, n_splits=5, eps=1e-6)
        # warm the workers on a few rows
        df.limit(8).select(udf(F.col("tokens").cast("array<double>"))).collect()
        t0 = time.perf_counter()
        df.select(
            F.sum(
                F.element_at(udf(F.col("tokens").cast("array<double>")), 1)
            )
        ).collect()
        dist = time.perf_counter() - t0
        df.unpersist()
        print(f"{n},{t},single_core_kernel,{single:.2f}")
        print(f"{n},{t},spark_local32,{dist:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
