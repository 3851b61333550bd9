"""Exact rank pieces shared by the k-sample tests
(``operators/grouptests``, whose module docstring states the
census / midrank / complete-block protocol), the two-sample drift
monitors (``operators/drift``) and the paired rank tests
(``operators/rankcorr``).  Ranks are DOUBLED so tied runs keep integral
average ranks; every count and rank is an exact long or DECIMAL(38,0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eristropy_spark.operators.changepoint import _floor_round

__all__ = [
    "census", "cum", "q12", "mid2", "midrank2", "group_median2",
    "pooled_median2", "pooled_ties", "first_of_run", "complete_blocks",
]


def census(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(group, _v, _c): the count of each distinct non-NULL value per
    group."""
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"), F.col(value_col).alias("_v"))
        .agg(F.count("*").cast("long").alias("_c"))
    )


def cum(keys, col: str = "_v"):
    """The running (unbounded preceding .. current row) frame in ``col``
    order within a key."""
    return (
        Window.partitionBy(*keys)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _pooled(col: str):
    """The running frame in ``col`` order over ALL rows; RANGE folds a
    value's rows across groups into one step."""
    return Window.orderBy(col).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )


def q12(c: Column) -> Column:
    """``c`` floor-quantized onto the 12-dp grid as DECIMAL(38,12)."""
    return _floor_round(c, 12).cast("decimal(38,12)")


def mid2(cast: str = "decimal(38,0)") -> Column:
    """A census run's doubled midrank 2·_cumt − _t + 1 as ``cast``."""
    return (2 * F.col("_cumt") - F.col("_t") + 1).cast(cast)


def midrank2(part, col: str) -> Column:
    """The doubled average rank 2·rank + ties − 1 of ``col`` within the
    ``part`` partition, an exact long."""
    return (
        2 * F.rank().over(Window.partitionBy(*part).orderBy(col))
        + F.count("*").over(Window.partitionBy(*part, col))
        - 1
    ).cast("long")


def _median2(cnt: DataFrame, w, running) -> DataFrame:
    """``cnt`` plus the running count ``_cum``, the total ``_n`` over
    ``w`` and ``_m2`` = x_(lo) + x_(hi), twice the median: ``_cum`` is
    nondecreasing in ``_v``, so min(v : cum >= rank) is the order
    statistic."""
    ranked = cnt.withColumn("_cum", F.sum("_c").over(running)).withColumn(
        "_n", F.sum("_c").over(w)
    )
    lo_rank = F.floor((F.col("_n") + 1) / 2)
    hi_rank = F.floor(F.col("_n") / 2) + 1
    return ranked.withColumn(
        "_m2",
        F.min(F.when(F.col("_cum") >= lo_rank, F.col("_v")))
        .over(w)
        .cast("long")
        + F.min(F.when(F.col("_cum") >= hi_rank, F.col("_v")))
        .over(w)
        .cast("long"),
    )


def group_median2(cnt: DataFrame) -> DataFrame:
    """A ``census`` plus each group's doubled median ``_m2`` (ROWS
    frame per group)."""
    return _median2(cnt, Window.partitionBy("group"), cum(["group"]))


def pooled_median2(cnt: DataFrame) -> DataFrame:
    """A ``census`` plus the doubled grand median ``_m2`` (RANGE frame
    over all rows)."""
    return _median2(cnt, Window.partitionBy(), _pooled("_v"))


def pooled_ties(cnt: DataFrame, col: str) -> DataFrame:
    """A (group, ``col``, _c) census plus the pooled tie count ``_t``
    of each distinct ``col`` and the pooled running count ``_cumt``
    through it.  The unkeyed frame sees the census, never raw rows: its
    size is the distinct-value domain."""
    return cnt.withColumn(
        "_t", F.sum("_c").over(Window.partitionBy(col))
    ).withColumn("_cumt", F.sum("_c").over(_pooled(col)))


def first_of_run(col: str) -> Column:
    """True on one representative census row per distinct ``col``, so
    a per-value term is summed once across groups."""
    return F.row_number().over(Window.partitionBy(col).orderBy("group")) == 1


def complete_blocks(cells: DataFrame) -> DataFrame:
    """The (block, treatment, …) cells of the blocks that hold EXACTLY
    one row per global treatment, with ``_k`` the global treatment
    count.  Distinct counts are max(dense_rank) windows, staged in two
    projections because window functions cannot nest."""
    w_b = Window.partitionBy("block")
    cells = cells.withColumn(
        "_tdr", F.dense_rank().over(Window.orderBy("treatment"))
    ).withColumn(
        "_btdr",
        F.dense_rank().over(Window.partitionBy("block").orderBy("treatment")),
    )
    cells = (
        cells.withColumn("_k", F.max("_tdr").over(Window.partitionBy()).cast("int"))
        .withColumn("_nr", F.count("*").over(w_b).cast("int"))
        .withColumn("_nt", F.max("_btdr").over(w_b).cast("int"))
    )
    return cells.where(
        (F.col("_nr") == F.col("_k")) & (F.col("_nt") == F.col("_k"))
    )
