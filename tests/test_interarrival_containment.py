"""burstiness_stats / ngram_containment_pairs / stratified_sample —
local parity, phase-plane discrimination, containment asymmetry,
determinism."""

import datetime as dt
import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from eristropy_spark.operators.dedup import ngram_containment_pairs
from eristropy_spark.operators.interarrival import burstiness_stats
from eristropy_spark.operators.sampling import stratified_sample


def _ts(sec: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def _events_df(spark, streams: dict[str, list[float]]):
    rows = [
        (k, i, _ts(t)) for k, ts in streams.items() for i, t in enumerate(ts)
    ]
    return spark.createDataFrame(rows, "key string, eid long, ts timestamp")


def _bm_local(times: list[float]):
    # quantize exactly like the timestamps: timedelta stores integer µs
    us = [
        (_ts(t) - dt.datetime(2024, 1, 1)) // dt.timedelta(microseconds=1)
        for t in times
    ]
    d = np.diff(np.asarray(us, dtype=np.float64))
    n = d.size
    if n == 0:
        return None, None, None
    mu = d.sum() / n
    sigma = math.sqrt((d * d).sum() / n - mu * mu)
    b = (sigma - mu) / (sigma + mu) if n >= 2 and sigma + mu > 0 else None
    m = None
    if n >= 3:
        h, t = d[:-1], d[1:]
        mm = h.size
        vh = mm * (h * h).sum() - h.sum() ** 2
        vt = mm * (t * t).sum() - t.sum() ** 2
        if vh > 0 and vt > 0:
            m = (mm * (h * t).sum() - h.sum() * t.sum()) / math.sqrt(vh * vt)
    return mu, b, m


def test_burstiness_matches_local(spark):
    rng = np.random.default_rng(41)
    streams = {
        f"k{i}": sorted(rng.uniform(0, 1000, size=rng.integers(3, 40)).tolist())
        for i in range(8)
    }
    # integer-second grid too (exercises exact ties)
    streams["grid"] = [float(x) for x in range(0, 50, 5)]
    out = {
        r["key"]: r
        for r in burstiness_stats(
            _events_df(spark, streams), key="key", ts_col="ts",
            tiebreak_col="eid",
        ).collect()
    }
    for k, times in streams.items():
        mu, b, m = _bm_local(times)
        r = out[k]
        assert r["n_events"] == len(times)
        assert r["n_gaps"] == len(times) - 1
        assert r["mean_gap_us"] == pytest.approx(mu, rel=1e-12)
        if b is None:
            assert r["burstiness"] is None
        else:
            assert r["burstiness"] == pytest.approx(b, abs=1e-9)
        if m is None:
            assert r["memory"] is None
        else:
            assert r["memory"] == pytest.approx(m, abs=1e-9)


def test_burstiness_phase_plane(spark):
    rng = np.random.default_rng(42)
    periodic = [float(i) for i in range(40)]  # sigma=0 -> B = -1
    expo = np.cumsum(rng.exponential(1.0, size=400)).tolist()  # B ~ 0
    bursty = np.cumsum(
        rng.choice([0.001, 10.0], p=[0.9, 0.1], size=400)
    ).tolist()  # heavy-tailed gaps -> B >> 0
    alternating = np.cumsum([1.0, 9.0] * 30).tolist()  # M < 0
    out = {
        r["key"]: r
        for r in burstiness_stats(
            _events_df(
                spark,
                {
                    "per": periodic,
                    "exp": expo,
                    "bur": bursty,
                    "alt": alternating,
                },
            ),
            key="key",
            ts_col="ts",
            tiebreak_col="eid",
        ).collect()
    }
    assert out["per"]["burstiness"] == -1.0
    assert abs(out["exp"]["burstiness"]) < 0.15
    assert out["bur"]["burstiness"] > 0.4
    assert out["alt"]["memory"] < -0.9


def test_burstiness_degenerate(spark):
    out = {
        r["key"]: r
        for r in burstiness_stats(
            _events_df(spark, {"one": [1.0], "two": [1.0, 2.0]}),
            key="key",
            ts_col="ts",
        ).collect()
    }
    assert out["one"]["n_gaps"] == 0 and out["one"]["burstiness"] is None
    assert out["one"]["mean_gap_us"] is None
    assert out["two"]["n_gaps"] == 1 and out["two"]["burstiness"] is None


# ------------------------------------------------- ngram_containment_pairs


def test_containment_asymmetric_quote(spark):
    long_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    quote = "gamma delta epsilon zeta"  # fully contained
    other = "one two three four five six"
    df = spark.createDataFrame(
        [("long", long_doc), ("quote", quote), ("other", other)],
        "doc_id string, text string",
    )
    rows = ngram_containment_pairs(df, n=3, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == ("long", "quote")
    assert r["cont_b"] == 1.0  # every quote shingle is in the long doc
    assert r["cont_a"] < 0.5  # but Jaccard-style symmetry would miss it
    assert r["n_inter"] == 2 and r["n_b"] == 2


def test_containment_matches_local_sets(spark):
    rng = np.random.default_rng(43)
    vocab = [f"w{i}" for i in range(12)]
    docs = {
        f"d{i}": " ".join(rng.choice(vocab, size=rng.integers(4, 15)))
        for i in range(8)
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id string, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in ngram_containment_pairs(df, n=2, threshold=0.01).collect()
    }

    def sh(t):
        w = t.lower().split(" ")
        return {tuple(w[i : i + 2]) for i in range(len(w) - 1)}

    for a in docs:
        for b in docs:
            if a >= b:
                continue
            inter = len(sh(docs[a]) & sh(docs[b]))
            if inter == 0:
                assert (a, b) not in got
                continue
            r = got[(a, b)]
            assert r["n_inter"] == inter
            assert r["cont_a"] == pytest.approx(inter / len(sh(docs[a])), abs=1e-6)
            assert r["cont_b"] == pytest.approx(inter / len(sh(docs[b])), abs=1e-6)


def test_containment_validates(spark):
    df = spark.createDataFrame([("a", "x y z")], "doc_id string, text string")
    with pytest.raises(ValueError, match="threshold"):
        ngram_containment_pairs(df, threshold=0.0)


# ------------------------------------------------------ stratified_sample


def test_stratified_exact_k_and_determinism(spark):
    rows = [(f"s{i % 3}", f"id{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "stratum string, id string")
    out = stratified_sample(df, "stratum", "id", k=5).collect()
    by_stratum: dict[str, list[str]] = {}
    for r in out:
        by_stratum.setdefault(r["stratum"], []).append(r["id"])
    assert all(len(v) == 5 for v in by_stratum.values())
    # deterministic: exactly the 5 smallest md5(salt||id) per stratum
    for s, ids in by_stratum.items():
        all_ids = [f"id{i}" for i in range(100) if f"s{i % 3}" == s]
        want = sorted(
            all_ids, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x)
        )[:5]
        assert sorted(ids) == sorted(want)
    # partition invariance
    out8 = stratified_sample(df.repartition(8), "stratum", "id", k=5).collect()
    assert sorted(map(tuple, out8)) == sorted(map(tuple, out))


def test_stratified_small_stratum_and_salt(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "z")], "stratum string, id string"
    )
    assert stratified_sample(df, "stratum", "id", k=5).count() == 3
    s1 = {r["id"] for r in stratified_sample(df, "stratum", "id", k=1).collect()}
    s2 = {
        r["id"]
        for r in stratified_sample(df, "stratum", "id", k=1, salt="e2").collect()
    }
    assert len(s1) == 2 and len(s2) == 2  # one per stratum either way
    with pytest.raises(ValueError, match="k must"):
        stratified_sample(df, "stratum", "id", k=0)


def test_burstiness_ntz_is_session_timezone_free(spark):
    """TIMESTAMP_NTZ events across the 2024-03-10 US DST jump: the gaps
    are wall-clock differences whatever the session time zone."""
    rows = [("k", dt.datetime(2024, 3, 10, h, 30)) for h in (0, 1, 3, 4, 6)]
    df = spark.createDataFrame(rows, "key string, ts timestamp_ntz")
    zone = spark.conf.get("spark.sql.session.timeZone")
    out = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out[tz] = burstiness_stats(df, key="key").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert out["UTC"] == out["America/New_York"]
    assert out["UTC"][0]["mean_gap_us"] == 1.5 * 3600e6
