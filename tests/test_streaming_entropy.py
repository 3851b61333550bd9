"""Streaming sequence-entropy ≡ batch pipeline on the same events.

The stream reads the sf0.001 events in multiple micro-batches plus a
far-future sentinel file; the sentinel advances the event-time
watermark past every real signal's last event + gap, so every signal
times out and emits exactly one entropy point — which must equal the
batch path (events_to_tokens → compute_entropy) row for row.
"""

import math
import os

from pyspark.sql import functions as F

from eristropy_spark.operators.entropy import compute_entropy
from eristropy_spark.sources.tokens import events_to_tokens
from eristropy_spark.streaming.entropy import streaming_sequence_entropy

SF_DIR = "/root/testdata/sf0.001"


def _r6(x):
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return None
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_streaming_matches_batch(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")

    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    # data file(s) first, then the sentinel (a dummy signal one year out
    # whose only purpose is to drag the watermark forward)
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    sentinel = (
        ev.limit(1)
        .withColumn("user_id", F.lit(-999999).cast(dict(ev.dtypes)["user_id"]))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_sequence_entropy(
        stream, m=1, r=0.2, normalize=True, gap="60 days", watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("stream_entropy_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r["doc_id"]: (r["n_tok"], _r6(r["sampen"]), _r6(r["permen"]), r["ts"])
        for r in spark.sql("SELECT * FROM stream_entropy_test").collect()
        if not r["doc_id"].startswith("-999999:")
    }

    tokens = events_to_tokens(spark, SF_DIR)
    batch = {
        r["doc_id"]: (r["n_tok"], _r6(r["sampen"]), _r6(r["permen"]), r["first_ts"])
        for r in compute_entropy(
            tokens, m=1, r=0.2, normalize=True, keep_cols=("n_tok", "first_ts")
        ).collect()
    }
    assert set(got) == set(batch)
    for d in batch:
        assert got[d] == batch[d], (d, got[d], batch[d])


def test_late_signals_close_instead_of_failing(spark, tmp_path):
    """Events in shuffled time order over two micro-batches: a signal
    whose second-batch events leave last event + gap behind the
    watermark closes in that call.  The query finishes and every signal
    is emitted once, with all of its events."""
    import datetime as dt
    import random

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(1, 7):
        # signal u: 12 events two minutes apart, starting u hours in
        for k in range(12):
            rows.append((u, "click", u * 100 + k,
                         t0 + dt.timedelta(hours=u, minutes=2 * k),
                         float((u * 7 + k * 3) % 11)))
    random.Random(5).shuffle(rows)
    schema = "user_id long, event_type string, event_id long, ts timestamp_ntz, value double"
    src = str(tmp_path / "src")
    half = len(rows) // 2
    sentinel = [(-1, "click", 0, t0 + dt.timedelta(days=365), 0.0)]
    for part in (rows[:half], rows[half:], sentinel):
        spark.createDataFrame(part, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_sequence_entropy(
        stream, m=1, r=0.2, gap="10 minutes", watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("stream_entropy_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    got = [
        (r["doc_id"], r["n_tok"])
        for r in spark.sql("SELECT doc_id, n_tok FROM stream_entropy_late").collect()
        if not r["doc_id"].startswith("-1:")
    ]
    assert sorted(got) == [(f"{u}:click", 12) for u in range(1, 7)]
