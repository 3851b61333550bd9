"""Streaming gap-fill (LOCF + linear) — dense, filled tiers emitted as
event time advances.

Batch gap-fill (operators/gapfill.py) joins a generated grid; a stream
has no "end of data" to build a grid against, so the dense series is
emitted INCREMENTALLY by a keyed fold (``streaming/fold.py``) with
event-time timers:

* per source, state holds the pending (bucket, value) rollup rows that
  arrived but are not yet safe to emit, the next grid bucket to emit
  and (LOCF only) the carry-forward value;
* a bucket is safe once the WATERMARK passes it by one interval — no
  row for it can arrive any more — so on every invocation (data or
  timer) the operator emits all safe grid buckets in order, taking the
  observed value where one arrived and carrying the last value
  forward across the holes (LOCF);
* an event-time timer re-arms each time, so quiet sources keep
  emitting filled buckets as the rest of the stream drags the
  watermark forward — gaps fill WITHOUT new data on the gapped source.

Emitted rows match the batch ``gapfill_locf`` over the same input for
every bucket the stream has deemed safe (parity-tested in
tests/test_streaming_gapfill.py).  State is O(sources × pending
buckets inside the watermark window).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.streaming.fold import duration_ms, fold_batches

__all__ = ["streaming_gapfill_locf", "streaming_gapfill_linear"]


def _gapfill(rollup_stream, interval, watermark, fill, state, init):
    """Run ``fill(st, anchors, cutoff, interval_ms) -> (st, [(ms, v)])``
    per source on every invocation (data or timer); ``cutoff`` is the
    last bucket the watermark has made final."""
    interval_ms = duration_ms(interval)
    if interval_ms <= 0:
        raise ValueError(f"interval must be positive, got {interval!r}")

    def step(key, st, pdfs, group):
        anchors = [  # (bucket ms, value) per incoming row; none on a timer
            (int(pd.Timestamp(ts).value // 1_000_000), float(v))
            for pdf in pdfs
            for ts, v in zip(pdf["bucket"], pdf["avg_value"])
        ]
        wm = group.getCurrentWatermarkMs()
        # a bucket is final once the watermark passed bucket+interval
        st, out = fill(st, anchors, wm - interval_ms, interval_ms)
        # wake up when the watermark should have advanced one interval
        group.setTimeoutTimestamp(max(wm, 0) + interval_ms)
        return st, [(key[0], pd.Timestamp(ms, unit="ms"), v) for ms, v in out]

    return fold_batches(
        rollup_stream.withColumn("bucket", F.col("bucket").cast("timestamp")),
        ["source"],
        ["bucket", "avg_value"],
        "source string, bucket timestamp, avg_value double",
        state,
        init,
        step,
        watermark=("bucket", watermark),
    )


def _locf(st, anchors, cutoff, interval_ms):
    pend_ms, pend_val, next_ms, carry = st
    pend = dict(zip(pend_ms, pend_val))
    for ms, v in anchors:
        pend[ms] = v
        if next_ms is None:
            next_ms = ms
        elif carry is None and ms < next_ms:
            # nothing emitted yet — an earlier first bucket
            # may still move the grid origin back; once
            # emission started the cursor never rewinds
            next_ms = ms
    out = []
    if next_ms is not None:
        while next_ms <= cutoff:
            if next_ms in pend:
                carry = pend.pop(next_ms)
            out.append((next_ms, carry))
            next_ms += interval_ms
        # rows older than the cursor were already emitted (with carry)
        # and can never be popped — prune them so state stays bounded
        pend = {k: v for k, v in pend.items() if k >= next_ms}
    return (list(pend), list(pend.values()), next_ms, carry), out


def streaming_gapfill_locf(
    rollup_stream: DataFrame,
    interval: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """(source, bucket, avg_value) — dense LOCF-filled streaming tier.

    ``rollup_stream`` needs (source, bucket timestamp, avg_value) rows —
    e.g. the streaming minute rollup.  Every grid bucket from a
    source's first observed bucket onward is emitted exactly once, in
    order, once the watermark makes it final.
    """
    return _gapfill(
        rollup_stream,
        interval,
        watermark,
        _locf,
        "pend_ms array<bigint>, pend_val array<double>, next_ms bigint, "
        "carry double",
        ([], [], None, None),
    )


def _linear(st, anchors, cutoff, interval_ms):
    pend_ms, pend_val, next_ms = st
    pend = dict(zip(pend_ms, pend_val))
    for ms, v in anchors:
        pend[ms] = v
        # the cursor starts at the earliest anchor; it can
        # only move back while that anchor is unemitted
        # (emitted anchors stay in pend as the left edge,
        # so min(pend) never exceeds the cursor afterwards)
        next_ms = ms if next_ms is None else min(ms, next_ms)
    out = []
    if next_ms is not None:
        finals = sorted(k for k in pend if k <= cutoff)
        if finals:
            # interpolate across consecutive FINAL anchor pairs; the
            # last final anchor is emitted and kept as the open
            # interval's left edge (never re-emitted: the cursor is
            # already past it on the next invocation)
            for a, b in zip(finals, finals[1:]):
                va, vb = pend[a], pend[b]
                ms = max(next_ms, a)
                while ms < b:
                    frac = (ms - a) / (b - a)
                    out.append((ms, va + (vb - va) * frac))
                    ms += interval_ms
                next_ms = max(next_ms, b)
            last = finals[-1]
            if next_ms <= last:
                out.append((last, pend[last]))
                next_ms = last + interval_ms
            pend = {k: v for k, v in pend.items() if k > cutoff or k == last}
    return (list(pend), list(pend.values()), next_ms), out


def streaming_gapfill_linear(
    rollup_stream: DataFrame,
    interval: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """(source, bucket, avg_value) — dense linear-interpolated streaming tier.

    Interior gap buckets are emitted when BOTH surrounding real anchors
    are watermark-final (exact linear interpolation, matching the batch
    ``gapfill_linear``); the open-ended gap after the latest anchor
    stays pending until its closing anchor arrives (a stream cannot
    interpolate toward an unknown future value — the semantic difference
    from LOCF, which always carries forward).  The grid starts at each
    source's first observed anchor, as in batch, so there is no leading
    gap to fill.
    """
    return _gapfill(
        rollup_stream,
        interval,
        watermark,
        _linear,
        "pend_ms array<bigint>, pend_val array<double>, next_ms bigint",
        ([], [], None),
    )
