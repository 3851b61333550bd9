"""spearman_pairs + kaplan_meier_churn — scipy-free local parity,
monotone-robustness, censoring semantics, degenerate inputs."""

import datetime as dt

import numpy as np
import pytest

from eristropy_spark.operators.rankcorr import spearman_pairs
from eristropy_spark.operators.survival import kaplan_meier_churn


def _ts(sec: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def _events_df(spark, series: dict[str, list[float]], bucket_sec=60):
    rows = []
    for src, vals in series.items():
        for i, v in enumerate(vals):
            if v is not None:
                rows.append((src, _ts(i * bucket_sec + 1.0), float(v)))
    return spark.createDataFrame(rows, "source string, ts timestamp, value double")


def _avg_ranks(x):
    order = sorted(range(len(x)), key=lambda i: x[i])
    r = [0.0] * len(x)
    i = 0
    while i < len(x):
        j = i
        while j < len(x) and x[order[j]] == x[order[i]]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for k in range(i, j):
            r[order[k]] = avg
        i = j
    return r


def _spearman_local(a, b):
    q = lambda v: np.floor(np.asarray(v) * 1e6 + 0.5) / 1e6
    ra, rb = _avg_ranks(list(q(a))), _avg_ranks(list(q(b)))
    ra, rb = np.asarray(ra), np.asarray(rb)
    n = ra.size
    cov = (ra * rb).sum() - ra.sum() * rb.sum() / n
    va = (ra * ra).sum() - ra.sum() ** 2 / n
    vb = (rb * rb).sum() - rb.sum() ** 2 / n
    if va <= 0 or vb <= 0:
        return None
    return cov / np.sqrt(va * vb)


def test_spearman_matches_local(spark):
    rng = np.random.default_rng(61)
    series = {
        s: [float(v) for v in rng.integers(0, 20, size=30)]
        for s in ("a", "b", "c", "d")
    }
    out = {
        (r["source_a"], r["source_b"]): r
        for r in spearman_pairs(_events_df(spark, series)).collect()
    }
    assert len(out) == 6
    for sa in series:
        for sb in series:
            if sa >= sb:
                continue
            rho = _spearman_local(series[sa], series[sb])
            r = out[(sa, sb)]
            assert r["n"] == 30
            assert r["rho"] == pytest.approx(rho, abs=1e-12)


def test_spearman_monotone_invariance_and_outliers(spark):
    base = [float(v) for v in range(30)]
    cubed = [v**3 for v in base]  # nonlinear monotone: rho_s = 1
    spiked = base[:-1] + [1e9]  # one outlier keeps rank order
    out = {
        (r["source_a"], r["source_b"]): r["rho"]
        for r in spearman_pairs(
            _events_df(spark, {"a": base, "b": cubed, "c": spiked})
        ).collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == 1.0
    # constant side -> NULL
    out2 = spearman_pairs(
        _events_df(spark, {"a": base, "k": [5.0] * 30})
    ).collect()
    rho = {(r["source_a"], r["source_b"]): r["rho"] for r in out2}
    assert rho[("a", "k")] is None


def test_spearman_validates(spark):
    df = _events_df(spark, {"a": [1.0]})
    with pytest.raises(ValueError, match="bucket_sec"):
        spearman_pairs(df, bucket_sec=0)
    with pytest.raises(ValueError, match="min_overlap"):
        spearman_pairs(df, min_overlap=1)


# ------------------------------------------------------ kaplan_meier_churn


def _users_df(spark, spans: dict[str, tuple[float, float]]):
    rows = []
    for u, (first_day, last_day) in spans.items():
        rows.append((u, _ts(first_day * 86400)))
        if last_day != first_day:
            rows.append((u, _ts(last_day * 86400)))
    return spark.createDataFrame(rows, "user_id string, ts timestamp")


def _km_local(spans: dict[str, tuple[float, float]], horizon=7):
    end = max(b for _, b in spans.values())
    lives = []
    for a, b in spans.values():
        lives.append((int(b - a), b < end - horizon))
    times = sorted({t for t, _ in lives})
    out = {}
    s = 1.0
    for t in times:
        n_risk = sum(1 for lt, _ in lives if lt >= t)
        d = sum(1 for lt, ev in lives if lt == t and ev)
        c = sum(1 for lt, ev in lives if lt == t and not ev)
        if d > 0:
            s *= 1.0 - d / n_risk
        out[t] = (n_risk, d, c, s)
    return out


def test_km_matches_local(spark):
    spans = {
        "u1": (0, 3),
        "u2": (0, 3),
        "u3": (1, 6),
        "u4": (2, 12),
        "u5": (0, 25),
        "u6": (10, 28),  # within horizon of end (day 28) -> censored
        "u7": (5, 28),
    }
    out = {
        r["t_days"]: r
        for r in kaplan_meier_churn(
            _users_df(spark, spans), censor_horizon_days=7
        ).collect()
    }
    local = _km_local(spans)
    assert set(out) == set(local)
    for t, (n_risk, d, c, s) in local.items():
        r = out[t]
        assert (r["n_risk"], r["n_events"], r["n_censored"]) == (n_risk, d, c)
        assert r["surv"] == pytest.approx(s, abs=1e-9)


def test_km_monotone_and_censoring_matters(spark):
    rng = np.random.default_rng(62)
    spans = {}
    for i in range(40):
        a = float(rng.integers(0, 5))
        b = a + float(rng.integers(0, 20))
        spans[f"u{i}"] = (a, b)
    spans["anchor"] = (0.0, 40.0)  # fixes the observation end
    rows = sorted(
        kaplan_meier_churn(
            _users_df(spark, spans), censor_horizon_days=7
        ).collect(),
        key=lambda r: r["t_days"],
    )
    survs = [r["surv"] for r in rows]
    assert all(a >= b - 1e-12 for a, b in zip(survs, survs[1:]))  # monotone
    assert all(0.0 <= s <= 1.0 for s in survs)
    local = _km_local(spans)
    for r in rows:
        assert r["surv"] == pytest.approx(local[r["t_days"]][3], abs=1e-9)


def test_km_all_censored_and_validation(spark):
    spans = {"u1": (0, 1), "u2": (0, 2)}  # everyone near the end
    rows = kaplan_meier_churn(
        _users_df(spark, spans), censor_horizon_days=7
    ).collect()
    assert all(r["surv"] == 1.0 and r["n_events"] == 0 for r in rows)
    with pytest.raises(ValueError, match="censor_horizon_days"):
        kaplan_meier_churn(_users_df(spark, spans), censor_horizon_days=0)


def test_km_ntz_is_session_timezone_free(spark):
    """TIMESTAMP_NTZ lifetimes, one across the 2024-03-10 US DST jump:
    whole wall-clock days whatever the session time zone."""
    rows = [
        ("a", dt.datetime(2024, 3, 9, 3)),
        ("a", dt.datetime(2024, 3, 10, 3)),
        ("b", dt.datetime(2024, 3, 1)),
        ("b", dt.datetime(2024, 3, 30)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp_ntz")
    zone = spark.conf.get("spark.sql.session.timeZone")
    out = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out[tz] = sorted(r["t_days"] for r in kaplan_meier_churn(df).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert out["UTC"] == out["America/New_York"] == [1, 29]
