"""Detrended cross-correlation between source pairs (DCCA).

``dcca_pairs`` implements DCCA (Podobnik & Stanley 2008, Phys. Rev.
Lett. 100) with the ρ_DCCA coefficient of Zebende 2011 (Physica A
390): align two signals on a common bucket grid, integrate both into
profiles, split into non-overlapping boxes of size s, detrend each
profile per box by its own OLS line, and read off

    ρ_DCCA(s) = F²_xy(s) / (F_xx(s) · F_yy(s))
              = Σ_box r_xy / √(Σ_box r_xx · Σ_box r_yy)

— the scale-resolved cross-correlation of the DETRENDED fluctuations,
in [−1, 1], immune to the spurious correlation a shared trend induces
in plain Pearson.  The cross-signal member of the fractal family
(operators/fractal.dfa is the self version), and the scale-resolved
complement of crosscorr/granger/transfer_entropy in the pair family.

Exactness protocol (granger's quantize-then-derive, dfa's box
geometry): bucket means quantize to exact centi-units u (d = 2, the
tokenize convention), the integer profile numerator N_t = n·C_t − t·S
is EXACT int64 (needs n²·max|u| ≤ 2⁶² — pre-aggregate longer grids to
a coarser bucket first, the dfa rule), per-box local coordinates
(z′ = y − y_first, t′ = 1..s) keep magnitudes bounded, every per-row
product (z′z′, t′z′, z′) is floor-quantized to the 1e-6 grid and
accumulated as DECIMAL(38, 0)/HUGEINT (exact under any order), each
box's detrended moments are ONE fixed float expression over those
exact sums, box SSRs re-quantize to the same grid and integer-sum,
and ρ is one final float ratio — bit-identical in the DuckDB replay.

Scale shape: one grid hash aggregate, one bucket equi-join (quadratic
in SOURCES only), keyed windows (pair, then pair×scale×box — each a
keyed Exchange, never a single partition), two hash aggregates.  Zero
Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.functions.grid import bucket_grid, bucket_pairs

__all__ = ["dcca_pairs"]

_Q = 1e6


def dcca_pairs(
    df: DataFrame,
    source_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_sec: int = 600,
    scales: Sequence[int] = (4, 8),
    min_overlap: int = 32,
) -> DataFrame:
    """(source_x, source_y, scale, n, n_boxes, rho) for every
    unordered pair x < y with n >= min_overlap aligned buckets, one
    row per scale; ``rho`` is NULL when either self-fluctuation is
    zero (a perfectly linear profile at that scale)."""
    szs = sorted(set(int(s) for s in scales))
    if len(szs) < 1 or szs[0] < 3:
        raise ValueError(f"scales must all be >= 3, got {scales!r}")
    if min_overlap < 2 * szs[0]:
        raise ValueError(
            f"min_overlap must be >= 2*min(scales)={2 * szs[0]}, "
            f"got {min_overlap}"
        )

    grid = bucket_grid(
        df, source_col, ts_col, bucket_sec,
        F.floor(F.avg(F.col(value_col).cast("double")) * F.lit(100.0)
                + F.lit(0.5)).cast("long").alias("u"),
    )
    pairs = bucket_pairs(grid, "u", ("source_x", "source_y"), ("ux", "uy"))

    wfull = Window.partitionBy("source_x", "source_y")
    wp = Window.partitionBy("source_x", "source_y").orderBy("bucket")
    wpu = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = pairs.select(
        "source_x", "source_y", "bucket", "ux", "uy",
        F.row_number().over(wp).alias("t"),
        F.count("*").over(wfull).alias("n"),
        F.sum("ux").over(wpu).alias("cx"),
        F.sum("uy").over(wpu).alias("cy"),
        F.sum("ux").over(wfull).alias("sx"),
        F.sum("uy").over(wfull).alias("sy"),
    ).where(F.col("n") >= int(min_overlap))
    # exact integer profile numerators; y-values are the fixed float
    # expression N/n (identical single-division in both engines)
    nx = F.col("n") * F.col("cx") - F.col("t") * F.col("sx")
    ny = F.col("n") * F.col("cy") - F.col("t") * F.col("sy")
    prof = staged.select(
        "source_x", "source_y", "t", "n",
        (nx.cast("double") / F.col("n").cast("double")).alias("yvx"),
        (ny.cast("double") / F.col("n").cast("double")).alias("yvy"),
    )
    scaled = prof.select(
        "*", F.explode(F.array(*[F.lit(s) for s in szs])).alias("scale")
    ).withColumn(
        "g", F.floor((F.col("t") - 1) / F.col("scale")).cast("long")
    )
    wbox = Window.partitionBy(
        "source_x", "source_y", "scale", "g"
    ).orderBy("t")
    boxed = scaled.select(
        "source_x", "source_y", "scale", "g", "n",
        (F.col("t") - F.first("t").over(wbox) + 1).alias("tp"),
        (F.col("yvx") - F.first("yvx").over(wbox)).alias("zx"),
        (F.col("yvy") - F.first("yvy").over(wbox)).alias("zy"),
    )

    def _q(c):
        return F.floor(c * F.lit(_Q) + F.lit(0.5)).cast("decimal(38,0)")

    tpd = F.col("tp").cast("double")
    zx, zy = F.col("zx"), F.col("zy")
    agg = boxed.groupBy("source_x", "source_y", "scale", "g").agg(
        F.count("*").alias("cnt"),
        F.max("n").alias("n"),
        F.sum(_q(zx)).alias("qzx"),
        F.sum(_q(zy)).alias("qzy"),
        F.sum(_q(zx * zx)).alias("qxx"),
        F.sum(_q(zy * zy)).alias("qyy"),
        F.sum(_q(zx * zy)).alias("qxy"),
        F.sum(_q(tpd * zx)).alias("qtx"),
        F.sum(_q(tpd * zy)).alias("qty"),
    ).where(F.col("cnt") == F.col("scale"))
    m = F.col("scale").cast("double")
    st = (F.col("scale") * (F.col("scale") + 1) / 2).cast("double")
    stt = (
        F.col("scale") * (F.col("scale") + 1) * (2 * F.col("scale") + 1) / 6
    ).cast("double")

    def _d(name):
        return F.col(name).cast("double") / F.lit(_Q)

    szx, szy = _d("qzx"), _d("qzy")
    sxx, syy, sxy = _d("qxx"), _d("qyy"), _d("qxy")
    stx, sty = _d("qtx"), _d("qty")
    ctt = stt - st * st / m
    ctx = stx - st * szx / m
    cty = sty - st * szy / m
    cxy = sxy - szx * szy / m
    cxx = sxx - szx * szx / m
    cyy = syy - szy * szy / m
    rxy = cxy - ctx * cty / ctt
    rxx = cxx - ctx * ctx / ctt
    ryy = cyy - cty * cty / ctt
    per_box = agg.select(
        "source_x", "source_y", "scale", "n",
        F.floor(rxy * F.lit(_Q) + F.lit(0.5)).cast("decimal(38,0)").alias("bxy"),
        F.floor(rxx * F.lit(_Q) + F.lit(0.5)).cast("decimal(38,0)").alias("bxx"),
        F.floor(ryy * F.lit(_Q) + F.lit(0.5)).cast("decimal(38,0)").alias("byy"),
    )
    fin = per_box.groupBy("source_x", "source_y", "scale").agg(
        F.max("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_boxes"),
        F.sum("bxy").alias("ssrxy"),
        F.sum("bxx").alias("ssrxx"),
        F.sum("byy").alias("ssryy"),
    )
    rho = F.when(
        (F.col("ssrxx") > 0) & (F.col("ssryy") > 0),
        F.col("ssrxy").cast("double")
        / F.sqrt(F.col("ssrxx").cast("double") * F.col("ssryy").cast("double")),
    )
    return fin.select(
        "source_x", "source_y", "scale", "n", "n_boxes", rho.alias("rho")
    )
