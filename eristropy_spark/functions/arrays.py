"""JVM-side array expressions (no Python) for token-array columns.

These stay inside Catalyst/whole-stage-codegen — use them in
preference to UDFs wherever the semantics allow (z-norm, difference,
checksums are all expressible with ``aggregate``/``transform``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "array_mean",
    "array_std",
    "znorm_array",
    "znormed",
    "array_sum",
]


def array_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x.cast("double"))


def array_mean(arr: Column) -> Column:
    return array_sum(arr) / F.size(arr)


def array_std(arr: Column, ddof: int = 1) -> Column:
    """Standard deviation of an array column (sample std by default,
    matching the reference's pandas ``transform`` z-norm — SURVEY.md
    §7.3 hazard 4; pass ddof=0 for population)."""
    n = F.size(arr)
    mu = array_mean(arr)
    ss = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + (x.cast("double") - mu) * (x.cast("double") - mu)
    )
    return F.sqrt(ss / (n - F.lit(ddof)))


def znorm_array(arr: Column, ddof: int = 1) -> Column:
    """(x - mean) / std element-wise as ONE expression.

    ⚠ Catalyst does not common-subexpression-eliminate aggregates nested
    inside higher-order-function lambdas, so this form re-evaluates the
    mean per element and the std's inner mean per accumulated element —
    O(n³) interpreted evals per row.  Fine for tests/tiny arrays; for
    anything hot use :func:`znormed`, which materializes mean/std as
    row-level columns first (one pass each).
    """
    mu = array_mean(arr)
    sd = array_std(arr, ddof)
    return F.transform(arr, lambda x: (x.cast("double") - mu) / sd)


def znormed(df, col: str = "tokens", out: str | None = None, ddof: int = 1):
    """DataFrame-level z-norm of an array column — the scale path.

    Computes mean and std as temporary row columns (each one aggregate
    pass over the array), then a single transform referencing them:
    O(n) per row, still fully JVM-side.
    """
    out = out or col
    arr = F.col(col)
    n = F.size(arr)
    df = df.withColumn("_mu", array_sum(arr) / n)
    df = df.withColumn(
        "_sd",
        F.sqrt(
            F.aggregate(
                arr,
                F.lit(0.0),
                lambda acc, x: acc
                + (x.cast("double") - F.col("_mu")) * (x.cast("double") - F.col("_mu")),
            )
            / (n - F.lit(ddof))
        ),
    )
    df = df.withColumn(
        out, F.transform(arr, lambda x: (x.cast("double") - F.col("_mu")) / F.col("_sd"))
    )
    return df.drop("_mu", "_sd")

