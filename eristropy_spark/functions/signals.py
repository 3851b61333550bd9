"""The engine's per-signal Arrow boundary: one ``mapInArrow`` for every
operator that maps a row's value array to per-signal statistics.

Each such operator keeps only its math — a function from per-row views
to output values — and ``map_signals`` owns the rest: the input
``select``, the output schema, the split of each Arrow list column into
per-row views, the Arrow type of every output column (derived from its
Spark field, so the two cannot disagree), the passthrough of the keep
columns, and the NULL policy (NaN is emitted as SQL NULL engine-wide).

It also sizes the boundary's tasks by data, not by the layout of the
input: the ``select`` is narrow-coalesced to

    max(defaultParallelism, ceil(sizeInBytes / spark.sql.files.maxPartitionBytes))

partitions — the rule Spark already applies to file scans, where cached,
shuffled and generated inputs are never re-split.  Each Python task has
a fixed cost (an empty one-task job is 25-35 ms on a 4-vCPU host, and a
``map_signals`` returning zeros over 2.2 MB took 0.368 s in 16 partitions
against 0.211 s in 4), so an input split finer than the cores wait on
pays it per partition; the sizing took 6 ms of driver time and 12 py4j
round trips per call there, and launches no Spark job (``sizeInBytes``
is the optimized plan's estimate).  ``coalesce`` adds no Exchange and
never adds partitions, but its output partitioning is unknown, so a
caller must not rely on the input's hash partitioning afterwards.  Limit:
Spark estimates an array column as one element, so a lineage that is
neither a file scan nor a materialized cache is under-estimated (6,000
synthetic token rows read 180 kB uncached, 4 MB cached); an
under-estimate only coalesces further, never below defaultParallelism.
A size too large to count (Spark's "unknown", Long.MaxValue) leaves the
input as it is, and so does a streaming input.

A second limit: ``coalesce`` groups partitions by count, not by cost.
Partitions with a preferred location (a cache, a shuffle or a file
scan) are dealt round-robin over the groups, so a 16-partition table
sorted by length still ran faster as 4 tasks (2,000 docs of 16-2,048
tokens: entropy 1.09 -> 0.95 s, ADF stationarity 2.19 -> 2.05 s).
Partitions without one (an uncached ``spark.range`` lineage) are
grouped in runs of adjacent partitions, so when the per-row cost grows
with the partition index the heaviest quarter lands in one task: the
same docs generated with length rising with the row id took 1.46 ->
1.92 s (entropy) and 2.50 -> 2.76 s (stationarity).
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

__all__ = ["map_signals"]

_INT_MAX = 2**31 - 1


def _token_views(col: pa.ChunkedArray | pa.Array) -> list[np.ndarray | None]:
    """Per-row views over the flat Arrow values buffer (None for a NULL
    row)."""
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    out: list[np.ndarray | None] = []
    for chunk in chunks:
        # slice offsets relative to the (possibly offset) chunk.  The
        # flat values buffer keeps its NATIVE dtype (int32 for token
        # tables): the kernels cast per sequence into small L2-resident
        # float64 blocks, so the 2x-wider float64 image of the whole
        # batch never hits DRAM — this matters on the bandwidth-bound
        # high-core runs of the scaling ladder.
        offsets = chunk.offsets.to_numpy()
        values = chunk.values.to_numpy(zero_copy_only=False)
        valid = chunk.is_valid().to_numpy(zero_copy_only=False)
        for i in range(len(chunk)):
            out.append(values[offsets[i] : offsets[i + 1]] if valid[i] else None)
    return out


def map_signals(
    df: DataFrame,
    keep_cols: Sequence[str],
    arrays: str | Sequence[str],
    fields: str,
    fn: Callable,
    *,
    explode: bool = False,
    batched: bool = False,
) -> DataFrame:
    """(``*keep_cols``, ``*fields``) via ONE ``mapInArrow`` over ``df``;
    ``fields`` declares the output columns as a DDL string
    (``"n int, apen double"``).

    ``fn`` gets one view per column in ``arrays`` (None for a NULL
    array; a non-list column arrives as its Python value, e.g. the
    ``doc_id`` that keys a per-signal RNG) and returns, per signal, one
    tuple of output values — or, with ``explode``, a list of such tuples
    (zero or more rows per signal; the keep columns follow by ``take``).
    With ``batched`` it gets one list of views per array column for the
    whole Arrow batch and returns one sequence per output field.  A
    column in both ``keep_cols`` and ``arrays`` is selected once.
    """
    arrays = [arrays] if isinstance(arrays, str) else list(arrays)
    keep = list(keep_cols)
    src = df.select(*keep, *[c for c in arrays if c not in keep])
    out_fields = StructType.fromDDL(fields).fields
    schema = StructType([src.schema[c] for c in keep] + out_fields)
    types = [to_arrow_type(f.dataType) for f in out_fields]
    names = schema.names

    def _compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            views = [
                _token_views(col) if pa.types.is_list(col.type) else col.to_pylist()
                for col in map(batch.column, arrays)
            ]
            kept = [batch.column(c) for c in keep]
            if batched:
                cols = fn(*views)
            elif explode:
                rows, take = [], []
                for i, vs in enumerate(zip(*views)):
                    got = fn(*vs)
                    rows.extend(got)
                    take.extend([i] * len(got))
                kept = [k.take(pa.array(take, type=pa.int32())) for k in kept]
                cols = list(zip(*rows)) or [()] * len(types)
            else:
                rows = [fn(*vs) for vs in zip(*views)]
                cols = list(zip(*rows)) or [()] * len(types)
            out = [
                pa.array(c, type=t, from_pandas=True) for c, t in zip(cols, types)
            ]
            yield pa.RecordBatch.from_arrays(kept + out, names)

    return _sized(src).mapInArrow(_compute, schema)


def _sized(src: DataFrame) -> DataFrame:
    """``src`` narrow-coalesced to max(defaultParallelism, ceil(estimated
    bytes / spark.sql.files.maxPartitionBytes)) partitions (module
    docstring); a streaming input is left as it is."""
    if src.isStreaming:
        return src
    jdf = src._jdf
    size = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = jdf.sparkSession().sessionState().conf().filesMaxPartitionBytes()
    cores = src.sparkSession.sparkContext.defaultParallelism
    n = max(cores, -(-size // split))
    # an unknown size reads as Long.MaxValue: no input has that many tasks
    return src.coalesce(n) if n <= _INT_MAX else src
