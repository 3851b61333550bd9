"""funnel_conversion / retention_cohorts / mannwhitney_drift —
hand-computed goldens, scipy-free local parity, degenerate inputs."""

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from eristropy_spark.operators.drift import mannwhitney_drift
from eristropy_spark.operators.funnel import funnel_conversion, retention_cohorts


def _ts(day: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=day)


# ------------------------------------------------------ funnel_conversion


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp"
    )


FUNNEL_ROWS = [
    # u1 completes the whole funnel in order
    ("u1", "view", _ts(0)),
    ("u1", "click", _ts(1)),
    ("u1", "buy", _ts(2)),
    # u2 clicks BEFORE viewing -> click doesn't count; re-click after
    ("u2", "click", _ts(0)),
    ("u2", "view", _ts(1)),
    ("u2", "click", _ts(3)),
    # u3 views only
    ("u3", "view", _ts(0)),
    # u4 never views -> not in funnel at all
    ("u4", "buy", _ts(0)),
]


def test_funnel_order_semantics(spark):
    out = {
        r["step"]: r
        for r in funnel_conversion(
            _events_df(spark, FUNNEL_ROWS), steps=["view", "click", "buy"]
        ).collect()
    }
    assert out["view"]["n_reached"] == 3  # u1 u2 u3
    assert out["click"]["n_reached"] == 2  # u1, u2 (second click)
    assert out["buy"]["n_reached"] == 1  # u1
    assert out["view"]["frac"] == 1.0
    assert out["click"]["frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["buy"]["frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert [out[s]["step_idx"] for s in ("view", "click", "buy")] == [0, 1, 2]


def test_funnel_horizon(spark):
    # u2's qualifying click is 2 days after its view: excluded at 1d
    out = {
        r["step"]: r
        for r in funnel_conversion(
            _events_df(spark, FUNNEL_ROWS),
            steps=["view", "click", "buy"],
            horizon_sec=86400.0,
        ).collect()
    }
    assert out["click"]["n_reached"] == 1  # only u1
    assert out["buy"]["n_reached"] == 1


def test_funnel_strictly_after(spark):
    # same-timestamp step-2 event does NOT count (strict >)
    rows = [("u", "a", _ts(0)), ("u", "b", _ts(0)), ("u", "b", _ts(1))]
    out = {
        r["step"]: r
        for r in funnel_conversion(
            _events_df(spark, rows), steps=["a", "b"]
        ).collect()
    }
    assert out["b"]["n_reached"] == 1  # via the later b


def test_funnel_validates(spark):
    df = _events_df(spark, FUNNEL_ROWS)
    with pytest.raises(ValueError, match="steps"):
        funnel_conversion(df, steps=["view"])
    with pytest.raises(ValueError, match="distinct"):
        funnel_conversion(df, steps=["view", "view"])
    with pytest.raises(ValueError, match="horizon"):
        funnel_conversion(df, steps=["view", "click"], horizon_sec=0)


# ------------------------------------------------------ retention_cohorts


def test_retention_triangle(spark):
    rows = [
        # cohort week of Jan 1 (Mon): u1 active weeks 0,1,2; u2 weeks 0,2
        ("u1", "e", _ts(0)),
        ("u1", "e", _ts(7)),
        ("u1", "e", _ts(14)),
        ("u2", "e", _ts(1)),
        ("u2", "e", _ts(15)),
        # cohort week of Jan 8: u3 active weeks 0,1
        ("u3", "e", _ts(8)),
        ("u3", "e", _ts(14.5)),
    ]
    out = {
        (r["cohort"].date().isoformat(), r["offset"]): r
        for r in retention_cohorts(_events_df(spark, rows)).collect()
    }
    c1, c2 = "2024-01-01", "2024-01-08"
    assert out[(c1, 0)]["n_active"] == 2 and out[(c1, 0)]["n_cohort"] == 2
    assert out[(c1, 1)]["n_active"] == 1
    assert out[(c1, 2)]["n_active"] == 2
    assert out[(c1, 1)]["retention"] == 0.5
    assert out[(c2, 0)]["n_active"] == 1
    assert out[(c2, 1)]["n_active"] == 1
    assert len(out) == 5


def test_retention_validates(spark):
    with pytest.raises(ValueError, match="period"):
        retention_cohorts(_events_df(spark, []), period="hour")


# ------------------------------------------------------ mannwhitney_drift


def _mwu_local(ref, cur):
    """Literal pair count: U = #{(r, c): c > r} + ties/2."""
    u = 0.0
    for c in cur:
        for r in ref:
            if c > r:
                u += 1.0
            elif c == r:
                u += 0.5
    n1, n2 = len(ref), len(cur)
    vals = sorted(ref + cur)
    ties = []
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        ties.append(j - i)
        i = j
    n = n1 + n2
    tsum = sum(t**3 - t for t in ties)
    var = (n1 * n2 / 12.0) * ((n + 1.0) - tsum / (n * (n - 1.0)))
    z = (2 * u - n1 * n2) / (2.0 * math.sqrt(var)) if var > 0 else None
    return u, z


def _series_df(spark, series: dict[str, list[int]]):
    rows = []
    for k, vals in series.items():
        rows += [(k, float(i), float(v)) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "key string, ts double, value double")


def test_mwu_matches_literal_pair_count(spark):
    rng = np.random.default_rng(31)
    series = {
        f"k{i}": [int(v) for v in rng.integers(0, 12, size=rng.integers(6, 40))]
        for i in range(8)
    }
    out = {
        r["key"]: r
        for r in mannwhitney_drift(
            _series_df(spark, series), key="key", ts_col="ts"
        ).collect()
    }
    for k, vals in series.items():
        n = len(vals)
        ref, cur = vals[: n // 2], vals[n // 2 :]
        u, z = _mwu_local(ref, cur)
        r = out[k]
        assert (r["n_ref"], r["n_cur"]) == (len(ref), len(cur))
        assert r["u2"] == int(round(2 * u))  # doubled U is exact
        assert r["auc"] == pytest.approx(u / (len(ref) * len(cur)), abs=0)
        if z is None:
            assert r["z"] is None
        else:
            assert r["z"] == pytest.approx(z, abs=1e-12)


def test_mwu_detects_level_shift(spark):
    rng = np.random.default_rng(32)
    shifted = [int(v) for v in rng.integers(0, 10, size=30)] + [
        int(v) for v in rng.integers(20, 30, size=30)
    ]
    stable = [int(v) for v in rng.integers(0, 10, size=60)]
    const = [5] * 20
    out = {
        r["key"]: r
        for r in mannwhitney_drift(
            _series_df(
                spark, {"shift": shifted, "stable": stable, "const": const}
            ),
            key="key",
            ts_col="ts",
        ).collect()
    }
    assert out["shift"]["auc"] == 1.0 and out["shift"]["z"] > 5
    assert abs(out["stable"]["z"]) < 2.5
    assert out["const"]["auc"] == 0.5  # all ties -> half mass
    assert out["const"]["z"] is None  # zero variance


# ------------------------------------------------- session time zone


def _in_zones(spark, build):
    """``build()`` collected under a UTC and a New York session."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    out = {}
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            out[tz] = sorted(tuple(r) for r in build().collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    return out["UTC"], out["America/New_York"]


def test_funnel_horizon_ntz_is_session_timezone_free(spark):
    """u2's click is 24.5 wall-clock hours after its view, across the
    2024-03-10 US DST jump (23.5 h of New York time): outside a 24 h
    horizon in every zone."""
    D = dt.datetime
    rows = [
        ("u1", "view", D(2024, 3, 9, 23)),
        ("u1", "click", D(2024, 3, 10, 22)),
        ("u2", "view", D(2024, 3, 9, 23)),
        ("u2", "click", D(2024, 3, 10, 23, 30)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp_ntz")
    utc, ny = _in_zones(
        spark, lambda: funnel_conversion(df, ["view", "click"], horizon_sec=86400)
    )
    assert utc == ny
    assert [r[2] for r in utc] == [2, 1]


def test_retention_ntz_is_session_timezone_free(spark):
    """Day and week offsets across the 2024-03-10 US DST jump count
    whole wall-clock periods, and each cohort is the same instant, in
    every session zone."""
    D = dt.datetime
    rows = [
        ("u1", "e", D(2024, 3, 4, 12)),
        ("u1", "e", D(2024, 3, 11, 12)),
        ("u2", "e", D(2024, 3, 4, 12)),
        ("u2", "e", D(2024, 3, 18, 1)),
        ("u3", "e", D(2024, 3, 9, 12)),
        ("u3", "e", D(2024, 3, 10, 12)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp_ntz")
    for period, offsets in (
        ("day", [0, 0, 1, 7, 14]), ("week", [0, 1, 2]), ("month", [0])
    ):
        utc, ny = _in_zones(spark, lambda: retention_cohorts(df, period=period))
        assert utc == ny
        assert sorted(r[1] for r in utc) == offsets
