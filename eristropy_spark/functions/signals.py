"""The engine's per-signal Arrow boundary: one ``mapInArrow`` for every
operator that maps a row's value array to per-signal statistics.

Each such operator keeps only its math — a function from per-row views
to output values — and ``map_signals`` owns the rest: the input
``select``, the output schema, the split of each Arrow list column into
per-row views, the Arrow type of every output column (derived from its
Spark field, so the two cannot disagree), the passthrough of the keep
columns, and the NULL policy (NaN is emitted as SQL NULL engine-wide).
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

__all__ = ["map_signals"]


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

    return src.mapInArrow(_compute, schema)
