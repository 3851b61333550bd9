"""The bucket grid the pair family shares: the one ts → integer-µs
rule, the (source, bucket) aggregate and the two bucket alignments.
Each operator passes its own per-bucket aggregates, so the exactness
of a statistic stays with the operator that defines it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["micros", "bucket_grid", "bucket_pairs", "lag_triples"]


def micros(df: DataFrame, ts_col: str) -> Column:
    """Integer epoch-microseconds for TIMESTAMP or TIMESTAMP_NTZ
    columns.  Integer (not the double-seconds cast) so window-frame
    bounds and bucket floors are exact integer arithmetic — a row
    sitting precisely on an edge resolves identically in every engine.
    NTZ goes through ``timestampdiff`` from an NTZ epoch
    (session-timezone-free); ``unix_micros`` only accepts TIMESTAMP."""
    if df.schema[ts_col].dataType.simpleString() == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def bucket_grid(
    df: DataFrame,
    source_col,
    ts_col: str,
    bucket_sec: int,
    *aggs: Column,
    bucket: str = "bucket",
) -> DataFrame:
    """``df`` grouped by (source, bucket) with ``aggs``, bucket =
    floor(µs / (bucket_sec·10⁶)) as long.  A ``source_col`` string is
    renamed ``source``; a list of key columns is grouped as it is.
    Raises ``ValueError`` unless int(bucket_sec) >= 1: a zero width
    divides by zero (NULL under non-ANSI), a negative one mirrors."""
    span_us = int(bucket_sec) * 1_000_000
    if span_us <= 0:
        raise ValueError(f"bucket_sec must be >= 1 second, got {bucket_sec!r}")
    keys = (
        [F.col(source_col).alias("source")]
        if isinstance(source_col, str)
        else list(source_col)
    )
    b = F.floor(micros(df, ts_col) / F.lit(span_us)).cast("long")
    return df.groupBy(*keys, b.alias(bucket)).agg(*aggs)


def bucket_pairs(
    grid: DataFrame,
    value: str,
    sources: tuple[str, str],
    values: tuple[str, str],
) -> DataFrame:
    """Every unordered source pair's shared buckets: the grid joined
    with itself on ``bucket`` where left source < right source, each
    side's ``source``/``value`` renamed to ``sources``/``values``.  An
    equi-join, so the cost is quadratic in sources per bucket, never in
    rows."""
    a, b = (
        grid.select(F.col("source").alias(s), "bucket", F.col(value).alias(v))
        for s, v in zip(sources, values)
    )
    return a.join(b, "bucket").where(F.col(sources[0]) < F.col(sources[1]))


def lag_triples(grid: DataFrame, value: str) -> DataFrame:
    """(bucket, source_y, _z, _u, source_x, _w): y_t, y_{t−1} and
    x_{t−1} for every ORDERED pair x ≠ y — the one-lag alignment of
    the directional tests (Granger, transfer entropy)."""

    def side(source, bucket, name):
        return grid.select(
            F.col("source").alias(source), bucket, F.col(value).alias(name)
        )

    def lag():
        return (F.col("bucket") + 1).alias("bucket")

    return (
        side("source_y", F.col("bucket"), "_z")
        .join(side("source_y", lag(), "_u"), ["source_y", "bucket"])
        .join(side("source_x", lag(), "_w"), "bucket")
        .where(F.col("source_x") != F.col("source_y"))
    )
