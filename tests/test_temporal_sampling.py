"""as-of join / sessionization / TF-IDF / deterministic sampling tests."""

import datetime
import math
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from eristropy_spark.operators.sampling import md5_bucket, md5_sample
from eristropy_spark.operators.temporal import asof_join, sessionize
from eristropy_spark.operators.text import tfidf_topk


def _ts(minute, second=0):
    return datetime.datetime(2024, 1, 1, 0, minute, second)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, ts=_ts(0), lid="a"),   # before any right -> null
            Row(k=1, ts=_ts(5), lid="b"),   # equal ts -> inclusive match
            Row(k=1, ts=_ts(9), lid="c"),   # between -> 5-min reading
            Row(k=2, ts=_ts(7), lid="d"),   # other key
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=_ts(5), v=50.0),
            Row(k=1, ts=_ts(10), v=100.0),
            Row(k=2, ts=_ts(6), v=60.0),
        ]
    )
    out = {
        r["lid"]: (r["ts_asof"], r["v_asof"])
        for r in asof_join(left, right, on="k", value_cols=["v"]).collect()
    }
    assert out["a"] == (None, None)
    assert out["b"] == (_ts(5), 50.0)
    assert out["c"] == (_ts(5), 50.0)
    assert out["d"] == (_ts(6), 60.0)


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([Row(k=1, ts=_ts(30), lid="x")])
    right = spark.createDataFrame([Row(k=1, ts=_ts(0), v=1.0)])
    fresh = asof_join(
        left, right, on="k", value_cols=["v"], tolerance_sec=3600
    ).collect()[0]
    stale = asof_join(
        left, right, on="k", value_cols=["v"], tolerance_sec=60
    ).collect()[0]
    assert fresh["v_asof"] == 1.0
    assert stale["v_asof"] is None and stale["ts_asof"] is None


def test_asof_join_partition_invariant(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    left = spark.createDataFrame(
        [Row(k=int(i % 5), ts=_ts(int(i % 50), int(i % 60)), lid=i)
         for i in range(200)]
    )
    right = spark.createDataFrame(
        [Row(k=int(rng.integers(0, 5)), ts=_ts(int(rng.integers(0, 50))),
             v=float(round(rng.normal(), 3)))
         for i in range(60)]
    ).groupBy("k", "ts").agg(F.max("v").alias("v"))
    a = sorted(
        map(tuple, asof_join(left, right, on="k", value_cols=["v"]).collect())
    )
    b = sorted(
        map(
            tuple,
            asof_join(
                left.repartition(13), right.repartition(3), on="k",
                value_cols=["v"],
            ).collect(),
        )
    )
    assert a == b


def test_sessionize_gap_semantics(spark):
    ev = spark.createDataFrame(
        [
            Row(u=1, ts=_ts(0), eid=0),
            Row(u=1, ts=_ts(10), eid=1),   # 600 s gap, same session
            Row(u=1, ts=_ts(45), eid=2),   # 2100 s > 1800 -> new session
            Row(u=1, ts=_ts(46), eid=3),
            Row(u=2, ts=_ts(0), eid=4),    # other user starts at 0
        ]
    )
    out = {
        r["eid"]: r["session_id"]
        for r in sessionize(ev, "u", ts_col="ts", gap_sec=1800,
                            tiebreak="eid").collect()
    }
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 0}


def test_sessionize_exact_gap_is_same_session(spark):
    ev = spark.createDataFrame(
        [Row(u=1, ts=_ts(0), eid=0), Row(u=1, ts=_ts(30), eid=1)]
    )
    out = sessionize(ev, "u", gap_sec=1800.0, tiebreak="eid").collect()
    assert {r["session_id"] for r in out} == {0}  # 1800 s is NOT > 1800
    with pytest.raises(ValueError, match="gap_sec"):
        sessionize(ev, "u", gap_sec=0)


def test_tfidf_topk_manual(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id="d1", text="apple banana apple"),
            Row(doc_id="d2", text="banana cherry"),
            Row(doc_id="d3", text="cherry cherry durian"),
        ]
    )
    out = {
        (r["doc_id"], r["word"]): (r["tf"], r["score"], r["rank"])
        for r in tfidf_topk(docs, k=2).collect()
    }

    def idf(df_count):
        return math.log((1 + 3) / (1 + df_count)) + 1

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    # d1: apple tf=2 df=1; banana tf=1 df=2
    assert out[("d1", "apple")] == (2, r6(2 * idf(1)), 1)
    assert out[("d1", "banana")] == (1, r6(1 * idf(2)), 2)
    # d3: cherry tf=2 df=2 beats durian tf=1 df=1
    assert out[("d3", "cherry")][2] == 1
    assert out[("d3", "durian")] == (1, r6(idf(1)), 2)
    assert len(out) == 6  # 2 per doc


def test_md5_sample_deterministic_and_pure_subset(spark):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("payload")
    )
    a = sorted(r["doc_id"] for r in md5_sample(docs, "doc_id", 13).collect())
    b = sorted(
        r["doc_id"]
        for r in md5_sample(docs.repartition(17), "doc_id", 13).collect()
    )
    assert a == b  # partition-invariant
    assert 0 < len(a) < 2000
    assert abs(len(a) / 2000 - 13 / 256) < 0.02  # near the nominal rate
    with pytest.raises(ValueError, match="rate_num"):
        md5_sample(docs, "doc_id", 256)
    with pytest.raises(ValueError, match="rate_den"):
        md5_sample(docs, "doc_id", 13, rate_den=100)


def test_md5_bucket_matches_hashlib(spark):
    import hashlib

    docs = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    got = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", md5_bucket(F.col("doc_id")).alias("b")
        ).collect()
    }
    for i in range(50):
        want = int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
        assert got[i] == want


def test_interval_join_semantics(spark):
    from eristropy_spark.operators.temporal import interval_join

    pts = spark.createDataFrame(
        [
            Row(k=1, ts=_ts(5), pid="in-a"),
            Row(k=1, ts=_ts(10), pid="edge-end-a"),   # inclusive end
            Row(k=1, ts=_ts(11), pid="outside"),
            Row(k=1, ts=_ts(20), pid="edge-start-b"),  # inclusive start
            Row(k=2, ts=_ts(5), pid="wrong-key"),
        ]
    )
    ivals = spark.createDataFrame(
        [
            Row(k=1, start=_ts(0), end=_ts(10), name="a"),
            Row(k=1, start=_ts(20), end=_ts(30), name="b"),
        ]
    )
    out = {
        r["pid"]: r["name"]
        for r in interval_join(pts, ivals, on="k", bucket_sec=120).collect()
    }
    assert out == {"in-a": "a", "edge-end-a": "a", "edge-start-b": "b"}


def test_interval_join_bucket_width_invariant(spark):
    """The bucket width is a physical knob only — results identical."""
    from eristropy_spark.operators.temporal import interval_join

    pts = spark.createDataFrame(
        [Row(k=int(i % 3), ts=_ts(int(i % 55)), pid=i) for i in range(120)]
    )
    ivals = spark.createDataFrame(
        [
            Row(k=kk, start=_ts(s), end=_ts(s + 7), iid=f"{kk}:{s}")
            for kk in range(3)
            for s in (0, 10, 30, 50)
        ]
    )
    outs = [
        sorted(
            (r["pid"], r["iid"])
            for r in interval_join(pts, ivals, on="k", bucket_sec=w).collect()
        )
        for w in (60.0, 300.0, 3600.0)
    ]
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0


def test_percentile_rollup_exact_and_approx(spark):
    import numpy as np

    from eristropy_spark.operators.rollup import percentile_rollup

    rng = np.random.default_rng(3)
    rows = [
        Row(
            ts=_ts(int(i % 50)),
            source="s" + str(i % 2),
            value=float(round(rng.normal(100, 20), 4)),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["source"], r["bucket"]): (r["p50"], r["p95"], r["n"])
        for r in percentile_rollup(df, "hour", "value").collect()
    }
    # independent recomputation (numpy linear interpolation == Spark's)
    import collections

    groups = collections.defaultdict(list)
    for r in rows:
        groups[(r.source, r.ts.replace(minute=0))].append(r.value)
    for k, vals in groups.items():
        p50 = math.floor(float(np.percentile(vals, 50)) * 1e6 + 0.5) / 1e6
        p95 = math.floor(float(np.percentile(vals, 95)) * 1e6 + 0.5) / 1e6
        assert out[k] == (p50, p95, len(vals)), k
    # the approx path runs and lands near the exact one
    approx = {
        (r["source"], r["bucket"]): r["p50"]
        for r in percentile_rollup(df, "hour", "value", exact=False).collect()
    }
    for k in out:
        assert abs(approx[k] - out[k][0]) < 5.0


def test_sessionize_matches_native_session_window(spark):
    """Cross-implementation check: the window-based sessionize agrees
    with Spark's native session_window aggregation (independent
    implementations of gap-based sessions; both merge at gap == G and
    split at gap > G)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows, t = [], 0.0
    for eid in range(600):
        u = int(rng.integers(0, 7))
        t += float(rng.exponential(900))  # mean 15 min between ANY events
        rows.append(
            Row(u=u, ts=datetime.datetime(2024, 1, 1)
                + datetime.timedelta(seconds=t), eid=eid)
        )
    ev = spark.createDataFrame(rows)
    native = {
        (r["u"], r["lo"]): (r["n"], r["hi"])
        for r in ev.groupBy("u", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"), F.min("ts").alias("lo"),
             F.max("ts").alias("hi"))
        .collect()
    }
    mine = {
        (r["u"], r["lo"]): (r["n"], r["hi"])
        for r in sessionize(ev, "u", gap_sec=1800.0, tiebreak="eid")
        .groupBy("u", "session_id")
        .agg(F.count("*").alias("n"), F.min("ts").alias("lo"),
             F.max("ts").alias("hi"))
        .collect()
    }
    assert native == mine and len(native) > 20


def test_asof_join_null_value_not_backfilled(spark):
    """A MATCHED right row whose value column is legitimately NULL must
    yield NULL — not a stale value carried from an older right row (the
    matched row is carried atomically in one struct)."""
    left = spark.createDataFrame(
        [Row(k=1, ts=_ts(9), lid="a"), Row(k=1, ts=_ts(3), lid="b")]
    )
    right = spark.createDataFrame(
        [Row(k=1, ts=_ts(2), v=2.0, w="old"),
         Row(k=1, ts=_ts(8), v=None, w="new")],
        "k long, ts timestamp, v double, w string",
    )
    out = {
        r["lid"]: (r["ts_asof"], r["v_asof"], r["w_asof"])
        for r in asof_join(
            left, right, on="k", value_cols=["v", "w"]
        ).collect()
    }
    # lid=a matches the ts=8 row: v must be NULL (not backfilled 2.0),
    # and all carried columns must come from THAT row
    assert out["a"] == (_ts(8), None, "new")
    assert out["b"] == (_ts(2), 2.0, "old")


def test_interval_join_reversed_interval_guard(spark):
    from pyspark.sql.utils import PythonException

    from eristropy_spark.operators.temporal import interval_join

    pts = spark.createDataFrame([Row(k=1, ts=_ts(5))])
    good = spark.createDataFrame(
        [Row(k=1, start=_ts(0), end=_ts(10), iid="ok")]
    )
    rev = spark.createDataFrame(
        [Row(k=1, start=_ts(10), end=_ts(0), iid="rev")]
    )
    both = good.unionByName(rev)
    # default: loud failure naming the interval
    with pytest.raises(Exception) as exc:
        interval_join(pts, both, on="k", bucket_sec=60).collect()
    assert "interval_join: bad interval" in str(exc.value)
    # drop mode: reversed interval silently removed, good one matches
    out = interval_join(
        pts, both, on="k", bucket_sec=60, invalid_intervals="drop"
    ).collect()
    assert [r["iid"] for r in out] == ["ok"]


def test_interval_join_explode_guard(spark):
    from eristropy_spark.operators.temporal import interval_join

    pts = spark.createDataFrame([Row(k=1, ts=_ts(5))])
    # a degenerate open-ended sentinel interval: year 9999
    sentinel = spark.createDataFrame(
        [Row(k=1, start=_ts(0), end=datetime.datetime(9999, 1, 1), iid="s")]
    )
    with pytest.raises(Exception) as exc:
        interval_join(pts, sentinel, on="k", bucket_sec=60).collect()
    assert "interval_join: bad interval" in str(exc.value)
    # raising the cap deliberately lets it through (still correct)
    out = interval_join(
        pts, sentinel, on="k", bucket_sec=3600.0 * 24 * 365,
        max_buckets_per_interval=10_000,
    ).collect()
    assert [r["iid"] for r in out] == ["s"]
    with pytest.raises(ValueError):
        interval_join(pts, sentinel, on="k", max_buckets_per_interval=0)
    with pytest.raises(ValueError):
        interval_join(pts, sentinel, on="k", invalid_intervals="clamp")


def test_verify_contract_dtype_check_catches_hugeint_class():
    """The local verifier must flag what the driver's type-sensitive
    hash flags: an oracle column materializing as a different dtype
    family (DuckDB window sum(INTEGER) -> HUGEINT -> float64) even when
    every value is equal.  This bug class shipped twice (cube_rollup
    r2, sessionize/interval_join r3) because the old verifier coerced
    all ints to int64 before comparing."""
    import importlib.util

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "verify_contract",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools", "verify_contract.py",
        ),
    )
    vc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vc)

    spark_df = pd.DataFrame({"session_id": pd.array([0, 1], dtype="int64")})
    oracle_df = pd.DataFrame({"session_id": [0.0, 1.0]})  # HUGEINT->float64
    bad = vc.dtype_mismatches(spark_df, oracle_df)
    assert len(bad) == 1 and "session_id" in bad[0]
    # equal families pass regardless of width
    ok = vc.dtype_mismatches(
        pd.DataFrame({"x": pd.array([1], dtype="int32")}),
        pd.DataFrame({"x": pd.array([1], dtype="int64")}),
    )
    assert ok == []
    # datetime precision differences are normalized, not flagged
    ok2 = vc.dtype_mismatches(
        pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]")}),
        pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]).astype("datetime64[ns]")}),
    )
    assert ok2 == []


def test_md5_split_deterministic_and_leakage_safe(spark):
    from eristropy_spark.operators.sampling import md5_split

    rows = [Row(uid=i % 20, rid=i) for i in range(200)]
    df = spark.createDataFrame(rows)
    out = md5_split(df, "uid").collect()
    # leakage safety: every row of a uid lands in the same split
    by_uid = {}
    for r in out:
        by_uid.setdefault(r["uid"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_uid.values())
    # deterministic across partitionings
    out2 = {(r["rid"], r["split"]) for r in md5_split(df.repartition(7), "uid").collect()}
    assert {(r["rid"], r["split"]) for r in out} == out2
    # salt re-deals at least one group (20 uids, 90/5/5 — near-certain)
    salted = {r["uid"]: r["split"] for r in md5_split(df, "uid", salt="v2").collect()}
    base = {r["uid"]: r["split"] for r in out}
    assert salted != base
    # weights validated
    for bad in ({"a": 100, "b": 100}, {"a": 256, "b": 0}):
        with pytest.raises(ValueError):
            md5_split(df, "uid", weights=bad)
    # custom weights cover the space in order
    two = {r["split"] for r in md5_split(df, "uid", weights={"x": 128, "y": 128}).collect()}
    assert two <= {"x", "y"}


def test_percentile_aliases_subpercent_unique(spark):
    """Round-4 advice: int(round(p*100)) aliased 0.995 / 0.999 / 1.0 all
    to "p100" (duplicate columns).  The %g encoding keeps classic names
    for whole percents and yields distinct p99_5 / p99_9 / p100 for
    sub-percent tails; truly duplicate aliases fail loud."""
    import pytest

    from eristropy_spark.operators.rollup import percentile_rollup

    rows = [Row(ts=_ts(i % 10), source="s", value=float(i)) for i in range(100)]
    df = spark.createDataFrame(rows)
    out = percentile_rollup(df, "hour", "value", probs=(0.5, 0.995, 0.999, 1.0))
    assert out.columns == ["source", "bucket", "p50", "p99_5", "p99_9", "p100", "n"]
    row = out.collect()[0]
    assert row["p50"] <= row["p99_5"] <= row["p99_9"] <= row["p100"] == 99.0

    with pytest.raises(ValueError, match="duplicate column aliases"):
        percentile_rollup(df, "hour", "value", probs=(0.5, 0.5))


# ----------------------------------------------------------- shuffle_corpus

def test_shuffle_corpus_matches_local_and_is_partition_invariant(spark):
    import hashlib

    from eristropy_spark.operators.sampling import shuffle_corpus

    rows = [(i, f"text {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def local():
        n = 16
        hs = {
            i: hashlib.md5(f"shuffle{i}".encode()).hexdigest() for i, _ in rows
        }
        shards = {}
        for i, h in hs.items():
            shards.setdefault(int(h[:4], 16) % n, []).append((h, str(i), i))
        out = {}
        for s, members in shards.items():
            for pos, (_, _, i) in enumerate(sorted(members)):
                out[i] = (s, pos)
        return out

    want = local()
    got = {
        r.doc_id: (r.shard, r.pos)
        for r in shuffle_corpus(df, n_shards=16).collect()
    }
    assert got == want
    got2 = {
        r.doc_id: (r.shard, r.pos)
        for r in shuffle_corpus(df.repartition(7), n_shards=16).collect()
    }
    assert got2 == want


def test_shuffle_corpus_positions_dense_and_total(spark):
    from collections import Counter

    from eristropy_spark.operators.sampling import shuffle_corpus

    rows = [(i, "x") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = shuffle_corpus(df, n_shards=8).collect()
    assert len(res) == 500  # a permutation: every row exactly once
    per_shard = Counter(r.shard for r in res)
    assert set(per_shard) <= set(range(8))
    for s, cnt in per_shard.items():
        poss = sorted(r.pos for r in res if r.shard == s)
        assert poss == list(range(cnt))  # dense 0..cnt-1
    # not degenerate: the hash spreads rows over shards
    assert len(per_shard) == 8 and max(per_shard.values()) < 500 / 8 * 2


def test_shuffle_corpus_salt_changes_order(spark):
    from eristropy_spark.operators.sampling import shuffle_corpus

    rows = [(i, "x") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: (r.shard, r.pos)
         for r in shuffle_corpus(df, salt="a").collect()}
    b = {r.doc_id: (r.shard, r.pos)
         for r in shuffle_corpus(df, salt="b").collect()}
    assert a != b

    import pytest

    with pytest.raises(ValueError):
        shuffle_corpus(df, n_shards=0)
