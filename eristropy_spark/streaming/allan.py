"""Streaming Allan variance — the ingest-door twin of
``operators/rollup.allan_variance`` as a keyed fold
(``streaming/fold.py``, which states the ordering contract; here the
order key is the event second and the tiebreak), same batch-parity
protocol as ``streaming_holt_winters`` / ``streaming_zscore``.

One state row per (key, τ): the OPEN bucket's (id, integer value sum,
count), the previous CLOSED bucket's (id, 1e12-scaled quantized mean),
the closed-bucket / pair counters, and the running 1e6-scaled squared-
difference sum — a ``string`` state field because it is an unbounded
exact integer (the batch side accumulates it in DECIMAL(38,6); a long
would overflow after ~1e3 large pairs).

A bucket CLOSES when the first point of a later bucket arrives; the
twin then emits one append row with the running AVAR — exactly the
batch operator evaluated on the closed-bucket prefix.  Every quantity
folds through the LITERAL batch expressions: m12 = ⌊(s/c)·10¹² + ½⌋
(s, c exact ints, one float division), dd = Δm12/10¹² (exact integer
difference, one division to double), term = ⌊dd²·10⁶ + ½⌋, and
AVAR = (ss/10⁶)/(2·m) — bit-identical to the batch operator on the
same closed buckets (pinned by test_streaming_allan).

Values must be integral (the batch contract's centi-unit protocol) so
bucket sums stay exact — a non-integral value raises.

State is O(keys·|τ-grid|) small fixed rows — the continuous-aggregate
shape; emission is append-per-bucket-close.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.streaming.fold import fold_rows

__all__ = ["streaming_allan"]


def streaming_allan(
    stream_df: DataFrame,
    key,
    ts_col: str = "ts",
    value_col: str = "value",
    taus: tuple[int, ...] = (60,),
    tiebreak_col: str | None = None,
) -> DataFrame:
    keys = [key] if isinstance(key, str) else list(key)
    nk = len(keys)

    def step(key_vals, st, o, v):
        ob, osum, ocnt, pb, pm12, nb, mp, ss6 = st
        fv = float(v)
        if fv != int(fv):
            raise ValueError(
                "streaming_allan requires integral values "
                f"(exact bucket sums); got {v!r}"
            )
        iv = int(fv)
        b = int(o[0]) // int(key_vals[nk])
        if ob is None:
            return (b, iv, 1, pb, pm12, nb, mp, ss6), []
        if b == ob:
            return (ob, osum + iv, ocnt + 1, pb, pm12, nb, mp, ss6), []
        # b > ob: fold the open bucket's close through the literal
        # batch expressions
        m12 = int(math.floor(osum / ocnt * 1e12 + 0.5))
        if pb is not None and pb == ob - 1:
            dd = (m12 - pm12) / 1e12
            ss6 += int(math.floor(dd * dd * 1e6 + 0.5))
            mp += 1
        nb += 1
        avar = None
        if mp >= 1:
            # int/int true division is correctly rounded (unlike int/1e6,
            # which would round the int to double FIRST past 2^53) —
            # matching Spark's DECIMAL(38,6) -> double cast exactly
            avar = (ss6 / 1000000) / (2.0 * mp)
        row = (ob, nb, mp, avar, math.sqrt(avar) if avar is not None else None)
        return (b, iv, 1, ob, m12, nb, mp, ss6), [row]

    pts = stream_df.withColumn(
        "tau_s", F.explode(F.array(*[F.lit(int(t)) for t in taus]))
    ).withColumn(ts_col, F.unix_timestamp(F.col(ts_col)))
    return fold_rows(
        pts,
        [*keys, "tau_s"],
        [ts_col, tiebreak_col],
        [value_col],
        "bucket bigint, n_buckets bigint, m_pairs bigint, avar double, "
        "adev double",
        "open_b bigint, open_sum bigint, open_cnt bigint, prev_b bigint, "
        "prev_m12 bigint, n_buckets bigint, m_pairs bigint, ss6 string",
        (None, 0, 0, None, None, 0, 0, 0),
        step,
        echo=False,
    )
