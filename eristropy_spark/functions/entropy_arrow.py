"""mapInArrow fast path for the entropy projection.

The pandas_udf path pays an Arrow→pandas conversion that materializes
one NumPy object per row for the ``tokens`` list column.  Here the
RecordBatch is consumed directly through ``functions.signals``: the
list column becomes per-row views over its flat values buffer (sliced
at the offsets — no copies), the batch kernels run once per Arrow
batch, and the passthrough columns are re-emitted zero-copy.  Results
are bit-identical to ``entropy_struct_udf`` (equivalence-tested in
tests/test_spark_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals
from eristropy_spark.kernels.permen import permen_many
from eristropy_spark.kernels.sampen_batch import sampen_many

__all__ = ["entropy_points_arrow"]


def entropy_points_arrow(
    tokens_df: DataFrame,
    m: int = 2,
    r: float = 0.2,
    permen_m: int = 3,
    permen_delay: int = 1,
    normalize: bool = True,
    keep_cols: tuple[str, ...] = ("doc_id", "source", "first_ts"),
    ts_col: str = "first_ts",
) -> DataFrame:
    """(keep_cols..., sampen, permen) per sequence via mapInArrow."""

    def _entropies(views):
        return (
            sampen_many(views, m, float(r), normalize=normalize),
            permen_many(views, permen_m, permen_delay, normalize=True),
        )

    out = map_signals(
        tokens_df, keep_cols, "tokens", "sampen double, permen double", _entropies,
        batched=True,
    )
    if ts_col in keep_cols and ts_col != "ts":
        out = out.withColumnRenamed(ts_col, "ts")
    return out
