"""Streaming MinHash-band near-dup — the ingest-door NEAR-dup filter.

``streaming_exact_dedup`` (streaming/dedup.py) drops byte-identical
repeats at the door; this module extends the door to near-duplicates
using the same MinHash-band family as the batch
``operators.dedup.minhash_lsh_pairs`` (identical signatures — the
batch and streaming passes agree on what "near-dup candidate" means).

Design (one stateful operator, horizontally sharded, bounded state):

* each arriving document explodes into its ``bands`` (band, bucket)
  keys — bucket = hash of that band's minhash sub-signature;
* a keyed fold (``streaming/fold.py``) on (band, bucket) keeps
  ``(first_doc_id, last_seen_ms)`` per bucket and emits one EVENT per
  incoming row: ``matched`` = this bucket was already claimed (by an
  earlier batch inside the horizon, or an earlier row of this batch),
  ``first_doc_id`` = the claim holder.  State evicts via event-time
  timeout ``horizon`` past the bucket's last activity — state is
  O(active buckets per horizon), sharded by bucket across executors
  exactly like the batch LSH shuffle;
* a document's ``bands`` events never split across micro-batches (the
  explode is batch-local), so the per-document verdict — near-dup iff
  ANY band matched, the LSH candidate rule — is an exact, STATELESS
  per-batch reduction: apply :func:`near_dup_verdicts` inside
  ``foreachBatch`` (or over the event stream's sink table).

Matched events carry the claim holder's id, so the verdict stream
doubles as the candidate-pair feed for the downstream batch
verification/clustering passes (streaming LSH gives candidates, not
certainties — same contract as the batch operator before its
exact-Jaccard verify step).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eristropy_spark.streaming.fold import duration_ms, fold_batches

__all__ = ["streaming_minhash_events", "near_dup_verdicts"]


def streaming_minhash_events(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    seed: int = 17,
    horizon: str = "10 minutes",
) -> DataFrame:
    """Per-(doc, band) bucket-claim events with bounded horizon state.

    ``docs`` is a streaming DataFrame with (doc_id, event-time, text).
    Signatures come from the SAME ``make_minhash_udf`` as the batch
    operator, so streaming buckets equal batch buckets for identical
    configuration."""
    if not docs.isStreaming:
        raise ValueError("streaming_minhash_events expects a streaming DataFrame")
    from eristropy_spark.operators.dedup import make_minhash_udf

    rows = k // bands
    sig = docs.select(
        F.col("doc_id"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        make_minhash_udf(k, n, seed)(F.col(text_col)).alias("sig"),
    )
    banded = sig.select(
        "doc_id",
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias(
                            "bucket"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "ts", "bb.band", "bb.bucket")
    horizon_ms = duration_ms(horizon)

    def step(key, st, pdfs, group):
        if group.hasTimedOut:
            return None, []
        first_doc, last_ms = st
        out = []
        for pdf in pdfs:
            # deterministic within-batch order: earliest (ts, doc_id)
            # claims a fresh bucket
            pdf = pdf.sort_values(["ts", "doc_id"], kind="mergesort")
            for doc_id, ts in zip(pdf["doc_id"], pdf["ts"]):
                ms = int(pd.Timestamp(ts).value // 1_000_000)
                # event-time claim expiry: the idle timeout below only
                # evicts buckets with NO new data (Spark never times out
                # a group that received rows this batch), so a claim
                # older than the horizon must expire here, against the
                # incoming row's event time — same horizon semantic as
                # dropDuplicatesWithinWatermark
                if first_doc is not None and ms - last_ms > horizon_ms:
                    first_doc = None
                matched = first_doc is not None
                out.append(
                    (
                        int(doc_id),
                        ts,
                        int(key[0]),
                        matched,
                        int(first_doc) if matched else int(doc_id),
                    )
                )
                if first_doc is None:
                    first_doc = int(doc_id)
                last_ms = max(last_ms, ms)
        group.setTimeoutTimestamp(last_ms + horizon_ms)
        return (int(first_doc), int(last_ms)), out

    return fold_batches(
        banded,
        ["band", "bucket"],
        ["doc_id", "ts"],
        "doc_id bigint, ts timestamp, band bigint, matched boolean, "
        "first_doc_id bigint",
        "first_doc_id bigint, last_seen_ms bigint",
        (None, 0),
        step,
        watermark=("ts", horizon),
    )


def near_dup_verdicts(events: DataFrame) -> DataFrame:
    """BATCH reduction of one micro-batch of events to per-doc verdicts:
    (doc_id, ts, is_near_dup, matched_doc_id, n_matched_bands).

    Exact because a doc's band events are always co-batched (the
    explode is batch-local); run inside ``foreachBatch`` or over the
    event sink.  ``matched_doc_id`` = smallest claim holder among the
    matched bands (a candidate, pending exact verification downstream),
    NULL for fresh docs."""
    matched_min = F.min(F.when(F.col("matched"), F.col("first_doc_id")))
    return events.groupBy("doc_id", "ts").agg(
        F.sum(F.col("matched").cast("long")).alias("n_matched_bands"),
        (F.sum(F.col("matched").cast("long")) > 0).alias("is_near_dup"),
        matched_min.alias("matched_doc_id"),
        F.count("*").alias("n_bands"),
    )
