"""One keyed fold for the streaming twins — the engine's only
caller of ``applyInPandasWithState``.

A twin keeps its parameter checks, its initial state and its step
function; this module owns the rest:

* the keyed input ``select`` and the output schema — the key columns,
  then (for a row-echoing twin) the order columns, then the twin's
  fields, declared as one DDL string;
* the state tuple in and out.  A ``string`` field in a twin's state
  DDL carries an unbounded Python int (exact grid-unit sums outgrow
  int64, and the state codec has no unbounded-int type): it is loaded
  with ``int`` and stored with ``str``;
* emission — one pandas frame per invocation, only when it has rows;
* the output mode and timeout: append with no timeout for the ordered
  folds; append with an event-time timeout for a watermarked twin;
  update with no timeout otherwise.

Ordering contract (``fold_rows``): within each micro-batch a key's rows
fold in ascending order-key order — ``(ts[, tiebreak])``, a stable
mergesort over all of the key's rows in that micro-batch — and state
carries across micro-batches in arrival order.  The fold keeps each
key's last folded order key in state.  A later micro-batch that brings
a row below it, or any row whose order key is NULL, raises
``ValueError`` naming the key and the column.  So an ordered twin
equals its batch operator on the folded prefix whenever each key's
event time is non-decreasing across micro-batches (the ingest-door
case), and fails loudly otherwise; none folds late data silently.
Feed late data through a watermark and a sorted replay upstream.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructType

__all__ = ["fold_rows", "fold_batches", "duration_ms", "grid_scale"]

_UNIT_MS = {"second": 1_000, "minute": 60_000, "hour": 3_600_000, "day": 86_400_000}


def duration_ms(text: str) -> int:
    """``"<n> <unit>"`` in milliseconds; the unit is second, minute, hour
    or day, singular or plural."""
    parts = text.split()
    if len(parts) == 2 and parts[0].isdecimal():
        unit = parts[1].removesuffix("s")
        if unit in _UNIT_MS:
            return int(parts[0]) * _UNIT_MS[unit]
    raise ValueError(
        f"duration {text!r} is not '<n> <unit>' with unit second, minute, "
        "hour or day"
    )


def grid_scale(exact_decimals: int, **values: float) -> int:
    """``10**exact_decimals`` for an exact-integer fold, after checking
    the grid is 1..12 decimals and every named value lies on it."""
    d = int(exact_decimals)
    if not 0 < d <= 12:
        raise ValueError(f"exact_decimals must be in 1..12, got {d}")
    for name, val in values.items():
        if round(val, d) != val:
            raise ValueError(
                f"{name}={val} is not exact at {d} decimals; quantize it"
            )
    return 10**d


def _apply(src, keys, out, state, init, fn, mode, timeout) -> DataFrame:
    state = StructType.fromDDL(state)
    big = [isinstance(f.dataType, StringType) for f in state.fields]
    names = out.names

    def _run(key, pdfs, group: GroupState) -> Iterator[pd.DataFrame]:
        st = init
        if group.exists:
            st = tuple(int(v) if b else v for v, b in zip(group.get, big))
        st, rows = fn(key, st, pdfs, group)
        if st is None:
            group.remove()
        else:
            group.update(tuple(str(v) if b else v for v, b in zip(st, big)))
        if rows:
            yield pd.DataFrame(rows, columns=names)

    return src.groupBy(*keys).applyInPandasWithState(
        _run, out, state, mode, timeout
    )


def fold_rows(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    values: Sequence[str],
    fields: str,
    state: str,
    init: tuple,
    step: Callable,
    *,
    echo: bool = True,
) -> DataFrame:
    """Per key, fold every row through ``step(key, st, o, *values)`` in
    order-key order (see the module docstring) and emit what it returns.

    ``st`` is the state tuple (``init`` for a new key, fields as in the
    ``state`` DDL), ``o`` the row's order-key tuple (a ``None`` entry in
    ``order`` — an unset tiebreak — is dropped).  ``step`` returns
    ``(new st, rows)``; each row holds the order columns (when ``echo``)
    then the ``fields`` values, and the fold prefixes the key.
    """
    keys, order = list(keys), [c for c in order if c is not None]
    src = df.select(*keys, *order, *values)
    head = keys + order if echo else keys
    out = StructType(
        [src.schema[c] for c in head] + StructType.fromDDL(fields).fields
    )
    n_o = len(order)

    def _fold(key, st, pdfs, group):
        st, last = st[:-1], st[-1]
        pdf = pd.concat(pdfs, ignore_index=True)
        for c in order:
            if pdf[c].isna().any():
                raise ValueError(f"key {key!r}: NULL {c!r} in the order key")
        pdf = pdf.sort_values(order, kind="mergesort")
        ok = [pdf[c].astype("int64").tolist() for c in order]
        first = [k[0] for k in ok]
        if last is not None and first < last:
            raise ValueError(
                f"key {key!r}: ({', '.join(order)}) went back from {last} to "
                f"{first} across micro-batches; event time must be "
                "non-decreasing per key"
            )
        rows = []
        for r in zip(*(pdf[c].tolist() for c in (*order, *values))):
            st, got = step(key, st, r[:n_o], *r[n_o:])
            rows.extend((*key, *g) for g in got)
        return (*st, [k[-1] for k in ok]), rows

    return _apply(
        src,
        keys,
        out,
        f"{state}, order_key array<bigint>",
        (*init, None),
        _fold,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def fold_batches(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    fields: str,
    state: str,
    init: tuple,
    step: Callable,
    *,
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Per key and invocation, ``step(key, st, pdfs, group)`` → ``(new
    st, rows)`` over the whole micro-batch (``pdfs``, empty on a timeout)
    and the ``GroupState`` (for its timeout and watermark).  A ``None``
    state removes the key's state; rows match the ``fields`` DDL, the
    whole output schema.

    With ``watermark = (column, delay)`` the input is watermarked and the
    fold runs in append mode with event-time timeouts; without one, in
    update mode with no timeout.
    """
    src = df.select(*keys, *values)
    if watermark is not None:
        src = src.withWatermark(*watermark)
        mode, timeout = "append", GroupStateTimeout.EventTimeTimeout
    else:
        mode, timeout = "update", GroupStateTimeout.NoTimeout
    return _apply(
        src, keys, StructType.fromDDL(fields), state, init, step, mode, timeout
    )
