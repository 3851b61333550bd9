"""The keyed fold behind the streaming twins: out-of-order and
NULL order keys fail loudly for every ordered twin, the one duration
parser, and the unbounded-int state codec past int64."""

import datetime
import os
import re

import pytest

from eristropy_spark.operators.rolling import expanding_zscore
from eristropy_spark.streaming.allan import streaming_allan
from eristropy_spark.streaming.backtest import streaming_backtest
from eristropy_spark.streaming.cusum import streaming_cusum
from eristropy_spark.streaming.holtwinters import streaming_holt_winters
from eristropy_spark.streaming.intermittent import streaming_croston
from eristropy_spark.streaming.momentum import streaming_rsi_macd
from eristropy_spark.streaming.pagehinkley import streaming_page_hinkley
from eristropy_spark.streaming.zscore import streaming_zscore

SCHEMA = "user_id string, ts timestamp, event_id long, value double"

ORDERED = {
    "zscore": lambda s: streaming_zscore(s, "user_id", tiebreak_col="event_id"),
    "cusum": lambda s: streaming_cusum(
        s, "user_id", target=0.0, tiebreak_col="event_id"
    ),
    "pagehinkley": lambda s: streaming_page_hinkley(
        s, "user_id", tiebreak_col="event_id"
    ),
    "momentum": lambda s: streaming_rsi_macd(
        s, "user_id", tiebreak_col="event_id"
    ),
    "backtest": lambda s: streaming_backtest(
        s, "user_id", tiebreak_col="event_id"
    ),
    "holtwinters": lambda s: streaming_holt_winters(
        s, "user_id", period=2, tiebreak_col="event_id"
    ),
    "croston": lambda s: streaming_croston(s, "user_id"),
    "allan": lambda s: streaming_allan(s, "user_id", tiebreak_col="event_id"),
}


def _t(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


def _start(spark, tmp_path, name, make, batches):
    """Run ``make(stream)`` over one parquet file per micro-batch."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for rows in batches:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return (
        make(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )


@pytest.mark.parametrize("twin", sorted(ORDERED))
def test_cross_batch_regression_fails_loudly(spark, tmp_path, twin):
    # key a reaches minute 10 in micro-batch 1, then micro-batch 2
    # brings minute 2 — an earlier minute bucket and an earlier second
    batches = [
        [("a", _t(9), 0, 1.0), ("a", _t(10), 1, 2.0)],
        [("a", _t(2), 2, 3.0), ("a", _t(12), 3, 4.0)],
    ]
    q = _start(spark, tmp_path, f"regress_{twin}", ORDERED[twin], batches)
    try:
        with pytest.raises(Exception, match="non-decreasing per key"):
            q.awaitTermination(120)
    finally:
        q.stop()


@pytest.mark.parametrize(
    "twin,col",
    [(t, "ts" if t == "croston" else "event_id") for t in sorted(ORDERED)]
    + [("zscore", "ts")],
)
def test_null_order_key_fails_loudly(spark, tmp_path, twin, col):
    bad = ("a", None, 1, 2.0) if col == "ts" else ("a", _t(2), None, 2.0)
    q = _start(
        spark, tmp_path, f"null_{twin}_{col}", ORDERED[twin],
        [[("a", _t(1), 0, 1.0), bad]],
    )
    try:
        with pytest.raises(Exception, match=f"NULL '{col}' in the order key"):
            q.awaitTermination(120)
    finally:
        q.stop()


def test_duration_parser():
    from eristropy_spark.streaming.fold import duration_ms

    assert duration_ms("1 minute") == 60_000
    assert duration_ms("10 minutes") == 600_000
    assert duration_ms("0 seconds") == 0
    assert duration_ms("2 hours") == 7_200_000
    assert duration_ms(" 60  days ") == 60 * 86_400_000
    for bad in ("5 weeks", "5minutes", "five minutes", "-5 minutes",
                "1 minute ago", "", "1.5 hours"):
        with pytest.raises(ValueError, match=re.escape(repr(bad))):
            duration_ms(bad)


def test_duration_guards_on_the_twins(spark):
    from eristropy_spark.streaming.entropy import streaming_sequence_entropy
    from eristropy_spark.streaming.gapfill import (
        streaming_gapfill_linear,
        streaming_gapfill_locf,
    )

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="'5 fortnights'"):
        streaming_sequence_entropy(stream, gap="5 fortnights")
    with pytest.raises(ValueError, match="'1minute'"):
        streaming_gapfill_locf(stream, interval="1minute")
    # a zero interval would never advance the emission cursor
    with pytest.raises(ValueError, match="interval must be positive"):
        streaming_gapfill_linear(stream, interval="0 minutes")


def test_zscore_state_codec_past_int64(spark, tmp_path):
    # grid-unit Σv² (1e-12 units) passes 2^53 at point 2 and 2^63
    # inside micro-batch 2, so the state must carry it beyond int64 —
    # and the streaming doubles must still equal the batch DECIMAL sums
    # cast to double
    vals = [97.123457, 101.654321, 900.5, 1200.25,
            1500.75, 2000.125, 2500.5, 3000.0625]
    rows = [("a", _t(i), i, v) for i, v in enumerate(vals)]
    s2 = 0
    crossed = None
    for i, v in enumerate(vals):
        u = int(round(v * 1e6))
        s2 += u * u
        if crossed is None and s2 >= 2**63:
            crossed = i
    assert 4 <= crossed < 8  # the crossing falls in micro-batch 2
    q = _start(
        spark, tmp_path, "zscore_codec", ORDERED["zscore"],
        [rows[:4], rows[4:]],
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: r for r in spark.sql("select * from zscore_codec").collect()
    }
    want = {
        r["event_id"]: r
        for r in expanding_zscore(
            spark.createDataFrame(rows, SCHEMA), "user_id",
            tiebreak_col="event_id",
        ).collect()
    }
    assert set(got) == set(want) == set(range(8))
    for i, w in want.items():
        for c in ("exp_mean", "exp_std", "exp_z"):
            assert got[i][c] == w[c], (i, c, got[i][c], w[c])
