"""Per-signal autocorrelation: numpy parity, lag clamping, constant and
short-series pins, partition invariance."""

import math

import numpy as np
import pytest

from eristropy_spark.operators.acf import acf_long


def _local_acf(vals, max_lag):
    x = np.asarray(vals, dtype=float)
    n = x.size
    if n < 2:
        return {}
    d = x - x.mean()
    den = float(d @ d)
    out = {}
    for k in range(1, min(max_lag, n - 1) + 1):
        num = float(d[: n - k] @ d[k:])
        out[k] = num / den if den != 0 else None
    return out


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def test_acf_matches_numpy(spark):
    rng = np.random.RandomState(7)
    rows = [
        ("a", [int(v) for v in rng.randint(-50, 50, size=40)]),
        ("b", [int(v) for v in np.round(10 * np.sin(np.arange(30)))]),
        ("c", [1, 2, 3, 4, 5]),
    ]
    # ragged random docs plus constant / single-point rows
    rng = np.random.RandomState(21)
    rows += [
        (f"d{i}", [int(v) for v in rng.randint(-30, 30, size=int(n))])
        for i, n in enumerate(rng.randint(2, 40, size=25))
    ] + [("const", [7, 7, 7]), ("single", [1])]
    df = _mk(spark, rows)
    got = {}
    for r in acf_long(df, max_lag=8).collect():
        got.setdefault(r.doc_id, {})[r.lag] = r.acf
    for doc, vals in rows:
        want = _local_acf(vals, 8)
        assert set(got.get(doc, {})) == set(want)
        for k in want:
            if want[k] is None:
                assert got[doc][k] is None
            else:
                assert math.isclose(got[doc][k], want[k], rel_tol=1e-12)
    # sine series: strong positive ACF near the period, negative at half
    assert got["b"][6] > 0.5 and got["b"][3] < 0


def test_acf_degenerate_series(spark):
    rows = [
        ("const", [5, 5, 5, 5]),   # den = 0 -> NULL acf rows
        ("single", [1]),           # < 2 points -> no rows
        ("pair", [1, 2]),          # exactly one lag
    ]
    df = _mk(spark, rows)
    res = acf_long(df, max_lag=10).collect()
    by_doc = {}
    for r in res:
        by_doc.setdefault(r.doc_id, []).append((r.lag, r.acf))
    assert "single" not in by_doc
    assert sorted(k for k, _ in by_doc["const"]) == [1, 2, 3]
    assert all(v is None for _, v in by_doc["const"])
    # 2-point series, biased estimator: (-d²)/(2d²) = -0.5 exactly
    assert by_doc["pair"] == [(1, -0.5)]


def test_acf_partition_invariant_and_validation(spark):
    rng = np.random.RandomState(3)
    rows = [
        (f"d{i}", [int(v) for v in rng.randint(0, 100, size=20)])
        for i in range(10)
    ]
    df = _mk(spark, rows)
    a = sorted(map(tuple, acf_long(df, max_lag=5).collect()))
    b = sorted(map(tuple, acf_long(df.repartition(4), max_lag=5).collect()))
    assert a == b and a
    with pytest.raises(ValueError):
        acf_long(df, max_lag=0)


def test_ess_matches_local_and_discriminates(spark):
    import numpy as np
    import pytest as _pt

    from eristropy_spark.operators.acf import acf_long, ess

    rng = np.random.default_rng(81)
    seqs = {
        "iid": [int(v) for v in rng.integers(0, 50, size=120)],
        "trend": list(range(120)),  # strong positive acf -> tiny ESS
        "short": [7],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in seqs.items()], "doc_id string, tokens array<int>"
    )
    # local recomputation from the same quantized acf values
    acf_rows = acf_long(df, max_lag=10).collect()
    byd: dict[str, dict[int, int]] = {}
    for r in acf_rows:
        li = int(np.floor(r["acf"] * 1e6 + 0.5))
        byd.setdefault(r["doc_id"], {})[r["lag"]] = li
    out = {r["doc_id"]: r for r in ess(df, max_lag=10).collect()}
    for k, vals in seqs.items():
        lags = byd.get(k, {})
        k0 = min(
            (lg for lg, li in sorted(lags.items()) if li <= 0), default=11
        )
        su = sum(li for lg, li in lags.items() if lg < k0)
        tau = 1.0 + 2.0 * (su / 1e6)
        r = out[k]
        assert r["n"] == len(vals)
        assert r["n_lags_used"] == sum(1 for lg in lags if lg < k0)
        assert r["tau"] == _pt.approx(tau, abs=1e-12)
        assert r["ess"] == _pt.approx(len(vals) / tau, abs=1e-9)
    assert out["trend"]["ess"] < 20 < out["iid"]["ess"]
    assert out["short"]["tau"] == 1.0 and out["short"]["ess"] == 1.0


# ---------------------------------------------------------------- Bartels

from eristropy_spark.operators.acf import bartels_rank


def _bartels_local(x):
    import numpy as _np

    x = _np.asarray(x, dtype=float)
    n = len(x)
    sx = _np.sort(x)
    lt = _np.searchsorted(sx, x, side="left")
    le = _np.searchsorted(sx, x, side="right")
    r = (lt + le + 1) / 2.0  # midranks
    num = _np.diff(r) @ _np.diff(r)
    den = ((r - (n + 1) / 2.0) ** 2).sum()
    if den == 0:
        return None, None
    rvn = num / den
    var = 4 * (n - 2) * (5 * n * n - 2 * n - 9) / (
        5 * n * (n + 1) * (n - 1) ** 2
    )
    return rvn, (rvn - 2.0) / np.sqrt(var)


def _arr_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>")


def test_bartels_matches_bruteforce(spark):
    rng = np.random.default_rng(109)
    rows = [
        (f"d{i}", [int(v) for v in rng.integers(0, 50, 120)])
        for i in range(6)
    ]
    got = {r["doc_id"]: r for r in bartels_rank(_arr_df(spark, rows)).collect()}
    for did, toks in rows:
        rvn_ref, z_ref = _bartels_local(toks)
        r = got[did]
        assert r["rvn"] == pytest.approx(rvn_ref, abs=1e-12)
        assert r["z"] == pytest.approx(z_ref, abs=1e-9)
        assert r["num4"] == int(round(4 * rvn_ref * (r["den4"] / 4)))


def test_bartels_discriminates_trend_oscillation_noise(spark):
    rng = np.random.default_rng(113)
    n = 200
    trend = [int(v) for v in (np.arange(n) + rng.integers(0, 5, n))]
    osc = [int(1000 + 500 * (-1) ** i + rng.integers(0, 50)) for i in range(n)]
    noise = [int(v) for v in rng.integers(0, 10000, n)]
    rows = [("trend", trend), ("osc", osc), ("noise", noise)]
    got = {r["doc_id"]: r for r in bartels_rank(_arr_df(spark, rows)).collect()}
    assert got["trend"]["z"] < -8.0   # RVN << 2
    assert got["osc"]["z"] > 8.0      # RVN >> 2
    assert abs(got["noise"]["z"]) < 3.0


def test_bartels_short_and_constant_null(spark):
    rows = [("short", [1, 2, 3]), ("const", [7] * 40)]
    got = {r["doc_id"]: r for r in bartels_rank(_arr_df(spark, rows)).collect()}
    assert got["short"]["rvn"] is None
    assert got["const"]["rvn"] is None and got["const"]["den4"] == 0
