"""Symbolic information-theoretic dependence between signal pairs.

Two classical measures over mean-symbolized bucket grids, completing
the pair family (``crosscorr_pairs`` linear lag, ``granger_pairs``
linear predictive asymmetry, ``cross_sampen_pairs`` pattern synchrony)
with the NONLINEAR dependence/causality members:

* ``mutual_info_pairs`` — Shannon mutual information I(X;Y) between
  the binarized signals (Shannon 1948; Cover & Thomas ch. 2):
  I = Σ_ab p(a,b)·ln[p(a,b)/(p(a)p(b))] over the 2×2 contingency
  table of same-bucket symbols.  Zero iff the symbol streams are
  independent; symmetric, so pairs are emitted once (x < y).
* ``transfer_entropy_pairs`` — Schreiber 2000 (Phys. Rev. Lett. 85)
  transfer entropy TE(X→Y) with k = l = 1 over binary symbols:
  TE = Σ p(y₁,y₀,x₀)·ln[p(y₁|y₀,x₀)/p(y₁|y₀)] over the 2×2×2 table
  of (y_t, y_{t−1}, x_{t−1}) triples — the model-free directional
  complement of the Granger F (TE sees nonlinear coupling Granger's
  linear OLS cannot).

Symbolization: per source, symbol s_t = 1 iff the bucket mean is
STRICTLY above the source's grand mean — decided by the exact integer
cross-multiply u_t·n > S over 6-dp grid units (no float mean ever
enters a decision), the same rule as ``ts_features``.

Exactness protocol: every cell count and marginal is an EXACT int64
from one hash aggregate; each of the 4 (MI) / 8 (TE) plog-ratio terms
is ONE fixed float expression over those integers, floor-quantized to
the 12-dp grid and summed as int64 (order-free — the lz_entropy_rate
rule), so the final value is bit-identical in the DuckDB replay.
Zero-count cells contribute exactly 0; a constant symbol stream gives
exactly 0 information (every term's log argument collapses to 1).

Scale shape: ONE hash aggregate builds the grid (map-side combined),
a broadcast join ships the tiny per-source stats, bucket equi-joins
align pairs/triples (quadratic in SOURCES only, never in rows), and
one aggregate keyed by the ordered pair reduces to 4/8 counters.  No
Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid, bucket_pairs, lag_triples
from eristropy_spark.operators.changepoint import _floor_round

__all__ = ["mutual_info_pairs", "transfer_entropy_pairs"]

_Q12 = 1e12


def _symbol_grid(
    df: DataFrame, source_col: str, ts_col: str, value_col: str,
    bucket_sec: int,
) -> DataFrame:
    """(source, bucket, s) — mean-symbolized bucket grid per source."""
    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        F.floor(
            _floor_round(F.avg(F.col(value_col).cast("double")), 6)
            * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("_u"),
    )
    # per-source count/sum as windows over the same source partition
    # (exact longs), so the grid is not re-executed for a stats branch
    w_src = Window.partitionBy("source")
    return grid.withColumn(
        "_nsrc", F.count("*").over(w_src).cast("long")
    ).withColumn("_ssrc", F.sum("_u").over(w_src)).select(
        "source",
        "bucket",
        F.when(F.col("_u") * F.col("_nsrc") > F.col("_ssrc"), 1)
        .otherwise(0)
        .cast("long")
        .alias("s"),
    )


def _plog_term(c: Column, num: Column, den: Column, n: Column) -> Column:
    """floor((c/n)·ln(num/den)·1e12 + 0.5) as exact int64; 0 when c=0."""
    return (
        F.when(
            c > 0,
            F.floor(
                c.cast("double") / n.cast("double")
                * F.log(num.cast("double") / den.cast("double"))
                * F.lit(_Q12)
                + F.lit(0.5)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
    )


def mutual_info_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 8,
) -> DataFrame:
    """(source_x, source_y, n, c00, c01, c10, c11, mi) for every
    unordered pair x < y with n >= min_overlap shared buckets; ``mi``
    in nats, >= 0, exactly 0 for an independent or constant table."""
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    sg = _symbol_grid(df, source_col, ts_col, value_col, bucket_sec)
    pairs = bucket_pairs(sg, "s", ("source_x", "source_y"), ("_sx", "_sy"))
    sx, sy = F.col("_sx"), F.col("_sy")
    agg = pairs.groupBy("source_x", "source_y").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((1 - sx) * (1 - sy)).alias("c00"),
        F.sum((1 - sx) * sy).alias("c01"),
        F.sum(sx * (1 - sy)).alias("c10"),
        F.sum(sx * sy).alias("c11"),
    ).where(F.col("n") >= int(min_overlap))
    n = F.col("n")
    c00, c01, c10, c11 = (F.col(c) for c in ("c00", "c01", "c10", "c11"))
    r0, r1 = c00 + c01, c10 + c11      # sx marginals
    k0, k1 = c00 + c10, c01 + c11      # sy marginals
    mi_q = (
        _plog_term(c00, c00 * n, r0 * k0, n)
        + _plog_term(c01, c01 * n, r0 * k1, n)
        + _plog_term(c10, c10 * n, r1 * k0, n)
        + _plog_term(c11, c11 * n, r1 * k1, n)
    )
    return agg.select(
        "source_x", "source_y", "n", "c00", "c01", "c10", "c11",
        (mi_q.cast("double") / F.lit(_Q12)).alias("mi"),
    )


def transfer_entropy_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 60,
    min_overlap: int = 8,
) -> DataFrame:
    """(source_x, source_y, n, te) for every ORDERED pair x ≠ y with
    n >= min_overlap aligned (y_t, y_{t−1}, x_{t−1}) triples; ``te``
    = TE(X→Y) in nats, >= 0 up to quantization."""
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    sg = _symbol_grid(df, source_col, ts_col, value_col, bucket_sec)
    triples = lag_triples(sg, "s")
    z, u, w = F.col("_z"), F.col("_u"), F.col("_w")

    def cell(j: int, k: int, el: int) -> Column:
        zj = z if j else 1 - z
        uk = u if k else 1 - u
        wl = w if el else 1 - w
        return F.sum(zj * uk * wl)

    agg = triples.groupBy("source_x", "source_y").agg(
        F.count("*").cast("long").alias("n"),
        *[
            cell(j, k, el).alias(f"c{j}{k}{el}")
            for j in (0, 1) for k in (0, 1) for el in (0, 1)
        ],
    ).where(F.col("n") >= int(min_overlap))
    n = F.col("n")
    c = {
        (j, k, el): F.col(f"c{j}{k}{el}")
        for j in (0, 1) for k in (0, 1) for el in (0, 1)
    }
    te_q = None
    for j in (0, 1):
        for k in (0, 1):
            for el in (0, 1):
                cjkl = c[(j, k, el)]
                m_kl = c[(0, k, el)] + c[(1, k, el)]
                r_jk = c[(j, k, 0)] + c[(j, k, 1)]
                m_k = (
                    c[(0, k, 0)] + c[(0, k, 1)]
                    + c[(1, k, 0)] + c[(1, k, 1)]
                )
                t = _plog_term(cjkl, cjkl * m_k, m_kl * r_jk, n)
                te_q = t if te_q is None else te_q + t
    return agg.select(
        "source_x", "source_y", "n",
        *[f"c{j}{k}{el}" for j in (0, 1) for k in (0, 1) for el in (0, 1)],
        (te_q.cast("double") / F.lit(_Q12)).alias("te"),
    )
