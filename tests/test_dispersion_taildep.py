"""count_dispersion / tail_dependence — dense-recomputation parity
(the zero-run algebra vs an explicit zero-filled series), Poisson /
regular / clustered discrimination, planted tail co-spiking, guards."""

import datetime
import math

import numpy as np
import pytest

from eristropy_spark.operators.dispersion import count_dispersion
from eristropy_spark.operators.taildep import tail_dependence

BUCKET = 600


def _events_from_buckets(spark, per_source: dict[str, list[int]]):
    """per_source[name] = list of bucket indices (one event each)."""
    rows = []
    eid = 0
    t0 = datetime.datetime(2024, 1, 1)
    for src, buckets in per_source.items():
        for b in buckets:
            rows.append(
                (eid, t0 + datetime.timedelta(seconds=b * BUCKET + 5),
                 src, 1.0)
            )
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, source string, value double"
    )


def _disp_local(buckets: list[int]):
    lo, hi = min(buckets), max(buckets)
    dense = [0] * (hi - lo + 1)
    for b in buckets:
        dense[b - lo] += 1
    nb = len(dense)
    ne = sum(dense)
    mean = ne / nb
    var = (sum(c * c for c in dense) - ne * ne / nb) / nb
    dsq = sum((b - a) ** 2 for a, b in zip(dense, dense[1:]))
    avar = dsq / (nb - 1) / 2.0
    return nb, ne, mean, var / mean, avar, avar / mean


def test_dispersion_zero_run_algebra_matches_dense(spark):
    rng = np.random.default_rng(7)
    per_source = {}
    for i in range(6):
        # sparse bucket sets with gaps — the zero-run algebra's case
        n = int(rng.integers(10, 80))
        per_source[f"s{i}"] = sorted(
            int(v) for v in rng.integers(0, 200, size=n)
        )
    out = {
        r["source"]: r
        for r in count_dispersion(
            _events_from_buckets(spark, per_source), bucket_sec=BUCKET
        ).collect()
    }
    for k, buckets in per_source.items():
        nb, ne, mean, fano, avar, ratio = _disp_local(buckets)
        r = out[k]
        assert (r["n_buckets"], r["n_events"]) == (nb, ne)
        assert r["mean_count"] == pytest.approx(mean, rel=1e-12)
        assert r["fano"] == pytest.approx(fano, rel=1e-12)
        assert r["avar"] == pytest.approx(avar, rel=1e-12)
        assert r["avar_ratio"] == pytest.approx(ratio, rel=1e-12)


def test_dispersion_discriminates_processes(spark):
    rng = np.random.default_rng(11)
    nb = 400
    # regular: exactly one event per bucket -> Fano = 0
    regular = list(range(nb))
    # Poisson-ish: events thrown uniformly -> Fano ~ 1
    poisson = [int(v) for v in rng.integers(0, nb, size=nb)]
    poisson += [0, nb - 1]  # pin the span
    # clustered: bursts of 20 in a few buckets -> Fano >> 1
    clustered = []
    for center in rng.integers(0, nb, size=nb // 20):
        clustered += [int(center)] * 20
    clustered += [0, nb - 1]
    out = {
        r["source"]: r
        for r in count_dispersion(
            _events_from_buckets(
                spark,
                {"reg": regular, "poi": poisson, "clu": clustered},
            ),
            bucket_sec=BUCKET,
        ).collect()
    }
    assert out["reg"]["fano"] == 0.0
    assert 0.5 < out["poi"]["fano"] < 2.0
    assert out["clu"]["fano"] > 5.0
    assert out["clu"]["avar_ratio"] > 5.0


def _events_values(spark, series: dict[str, list[float]]):
    rows = []
    eid = 0
    t0 = datetime.datetime(2024, 1, 1)
    for src, vals in series.items():
        for j, v in enumerate(vals):
            rows.append(
                (eid, t0 + datetime.timedelta(seconds=j * BUCKET + 5),
                 src, float(v))
            )
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, source string, value double"
    )


def _taildep_local(xs, ys, q_pct=75):
    def exceed(vals):
        u = [math.floor(v * 100.0 + 0.5) for v in vals]
        srt = sorted(u)
        k = (q_pct * len(u) + 99) // 100
        thr = srt[k - 1]
        return [1 if v > thr else 0 for v in u]

    ex, ey = exceed(xs), exceed(ys)
    n = len(ex)
    cx, cy = sum(ex), sum(ey)
    cb = sum(a * b for a, b in zip(ex, ey))
    lift = n * cb / (cx * cy) if cx > 0 and cy > 0 else None
    jac = cb / (cx + cy - cb) if cx + cy - cb > 0 else None
    return n, cx, cy, cb, lift, jac


def test_taildep_matches_local_and_detects_cospiking(spark):
    rng = np.random.default_rng(19)
    n = 200
    base = rng.normal(100, 5, size=n)
    spikes = rng.random(n) < 0.2
    a = base + 50 * spikes                      # spikes together with b
    b = rng.normal(100, 5, size=n) + 50 * spikes
    c = rng.normal(100, 5, size=n) + 50 * (rng.random(n) < 0.2)  # own spikes
    series = {
        "a": [float(v) for v in a],
        "b": [float(v) for v in b],
        "c": [float(v) for v in c],
    }
    out = {
        (r["source_x"], r["source_y"]): r
        for r in tail_dependence(
            _events_values(spark, series), bucket_sec=BUCKET, q_pct=75
        ).collect()
    }
    for x, y in (("a", "b"), ("a", "c"), ("b", "c")):
        nn, cx, cy, cb, lift, jac = _taildep_local(series[x], series[y])
        r = out[(x, y)]
        assert (r["n"], r["c_x"], r["c_y"], r["c_both"]) == (nn, cx, cy, cb)
        if lift is None:
            assert r["lift"] is None
        else:
            assert r["lift"] == pytest.approx(lift, abs=2e-6)
        if jac is None:
            assert r["jaccard"] is None
        else:
            assert r["jaccard"] == pytest.approx(jac, abs=2e-6)
    # the co-spiking pair has strong tail dependence; the independent
    # pairs hover near lift = 1
    assert out[("a", "b")]["lift"] > 2.0
    assert out[("a", "c")]["lift"] < 2.0


def test_taildep_constant_series_null(spark):
    series = {"const": [5.0] * 40, "noise": [float(i % 7) for i in range(40)]}
    out = tail_dependence(
        _events_values(spark, series), bucket_sec=BUCKET
    ).collect()
    assert len(out) == 1
    assert out[0]["c_x"] == 0 and out[0]["lift"] is None


def test_dispersion_taildep_guards(spark):
    df = _events_values(spark, {"a": [1.0] * 20, "b": [2.0] * 20})
    with pytest.raises(ValueError):
        count_dispersion(df, bucket_sec=0)
    with pytest.raises(ValueError):
        count_dispersion(df, min_buckets=1)
    with pytest.raises(ValueError):
        tail_dependence(df, q_pct=0)
    with pytest.raises(ValueError):
        tail_dependence(df, q_pct=100)


# ---------------------------------------------------------------- ZIP score

import datetime as _dt

from eristropy_spark.operators.dispersion import zero_inflation


def _ev_df(spark, rows):
    return spark.createDataFrame(rows, "source string, ts timestamp")


def _mk(src, secs):
    base = _dt.datetime(2024, 1, 1)
    return [(src, base + _dt.timedelta(seconds=float(s))) for s in secs]


def _zip_local(secs, bucket_sec=600):
    b = np.floor(np.asarray(secs) / bucket_sec).astype(np.int64)
    n = int(b.max() - b.min() + 1)
    nnz = len(np.unique(b))
    n0 = n - nnz
    ybar = len(b) / n
    p0 = np.exp(-ybar)
    den = n * p0 * (1 - p0) - n * ybar * p0 * p0
    if den <= 0:
        return None
    return (n0 - n * p0) ** 2 / den


def test_zip_matches_formula(spark):
    rng = np.random.default_rng(157)
    secs = np.sort(rng.uniform(0, 600 * 200, 500))
    r = zero_inflation(_ev_df(spark, _mk("a", secs)), "source").first()
    ref = _zip_local(secs)
    assert r["score"] == pytest.approx(ref, rel=1e-9)
    b = np.floor(secs / 600).astype(np.int64)
    assert r["n_buckets"] == int(b.max() - b.min() + 1)
    assert r["n_zero"] == r["n_buckets"] - len(np.unique(b))


def test_zip_fires_on_structural_zeros_not_on_poisson(spark):
    rng = np.random.default_rng(163)
    # Poisson-ish: events uniformly over the whole span
    pois = np.sort(rng.uniform(0, 600 * 300, 900))
    # structural: same volume but the service is "off" 2/3 of the time
    # (events only in every third 10-bucket block)
    blocks = [k for k in range(30) if k % 3 == 0]
    structural = np.sort(
        np.concatenate(
            [rng.uniform(k * 6000, (k + 1) * 6000, 90) for k in blocks]
        )
    )
    s_p = zero_inflation(_ev_df(spark, _mk("a", pois)), "source").first()
    s_s = zero_inflation(_ev_df(spark, _mk("a", structural)), "source").first()
    assert s_s["score"] > 100 * max(s_p["score"], 1e-9)
    assert s_s["zero_frac"] > 0.5


def test_zip_short_span_null(spark):
    r = zero_inflation(
        _ev_df(spark, _mk("a", [1.0, 700.0])), "source", min_buckets=8
    ).first()
    assert r["score"] is None


# ---------------------------------------------------------------- Dean P_B

from eristropy_spark.operators.dispersion import overdispersion_score


def _dean_local(secs, bucket_sec=600):
    b = np.floor(np.asarray(secs) / bucket_sec).astype(np.int64)
    lo, hi = b.min(), b.max()
    n = int(hi - lo + 1)
    y = np.bincount((b - lo).astype(int), minlength=n).astype(float)
    ybar = y.mean()
    if ybar == 0:
        return None
    return float((((y - ybar) ** 2 - y).sum()) / (ybar * np.sqrt(2 * n)))


def test_dean_matches_dense_recomputation(spark):
    rng = np.random.default_rng(167)
    secs = np.sort(rng.uniform(0, 600 * 150, 400))
    r = overdispersion_score(_ev_df(spark, _mk("a", secs)), "source").first()
    assert r["p_b"] == pytest.approx(_dean_local(secs), rel=1e-9)


def test_dean_fires_on_bursty_not_on_uniformish(spark):
    rng = np.random.default_rng(173)
    n_ev = 1200
    uni = np.sort(rng.uniform(0, 600 * 200, n_ev))
    # bursty: all events crammed into 10 of 200 buckets
    hot = rng.choice(200, 10, replace=False)
    bursty = np.sort(
        np.concatenate(
            [rng.uniform(h * 600, (h + 1) * 600, n_ev // 10) for h in hot]
        )
    )
    # pin the same span so n matches
    bursty = np.concatenate([[0.5], bursty, [600 * 200 - 0.5]])
    z_u = overdispersion_score(_ev_df(spark, _mk("a", uni)), "source").first()["p_b"]
    z_b = overdispersion_score(_ev_df(spark, _mk("a", bursty)), "source").first()["p_b"]
    assert z_b > 10 * max(z_u, 1.0)


def test_dean_short_span_null(spark):
    r = overdispersion_score(
        _ev_df(spark, _mk("a", [1.0, 700.0])), "source", min_buckets=8
    ).first()
    assert r["p_b"] is None


@pytest.mark.parametrize("bucket_sec", [0, -600, 0.5])
@pytest.mark.parametrize(
    "op", [count_dispersion, zero_inflation, overdispersion_score]
)
def test_dispersion_rejects_bad_bucket_width(spark, op, bucket_sec):
    # a zero width divided every bucket id by zero (NULL statistics), a
    # negative one mirrored the buckets: both must raise, not answer
    df = _ev_df(spark, _mk("a", np.arange(0, 600 * 12, 300)))
    with pytest.raises(ValueError, match="bucket_sec"):
        op(df, "source", bucket_sec=bucket_sec)
    with pytest.raises(ValueError, match="min_buckets"):
        op(df, "source", min_buckets=1)
