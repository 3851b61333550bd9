"""Round-5 batch: ks_drift, psi_drift, hill_tail, benford, ljung_box —
brute-force / local-recomputation parity, degenerate inputs, and
partition invariance; plus the half-split contract of every drift
operator."""

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from eristropy_spark.operators import drift
from eristropy_spark.operators.acf import ljung_box
from eristropy_spark.operators.drift import ks_drift, psi_drift
from eristropy_spark.operators.tails import BENFORD_P, benford, hill_tail


def _ts(sec: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=float(sec))


def _events_df(spark, series: dict[str, list[float]]):
    """One key per entry; points i seconds apart, event_id = i."""
    rows = [
        (k, "s", _ts(i), i, float(v))
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows,
        "user_id string, event_type string, ts timestamp, "
        "event_id long, value double",
    )


def _keyed(df_op_out):
    return {r["user_id"]: r for r in df_op_out.collect()}


# ------------------------------------------------------------- ks_drift


def _ks_brute(x: list[float]):
    n = len(x)
    na = n // 2
    ref, cur = x[:na], x[na:]
    nb = len(cur)
    if na == 0 or nb == 0:
        return na, nb, None
    best = 0
    for v in sorted(set(x)):
        ca = sum(1 for t in ref if t <= v)
        cb = sum(1 for t in cur if t <= v)
        best = max(best, abs(ca * nb - cb * na))
    return na, nb, best


def test_ks_drift_matches_brute_force(spark):
    rng = np.random.default_rng(11)
    series = {
        f"d{i}": [float(v) for v in rng.normal(i, 1 + i % 3, size=rng.integers(2, 60))]
        for i in range(10)
    }
    out = _keyed(ks_drift(_events_df(spark, series), ("user_id", "event_type"),
                          tiebreak_col="event_id"))
    for k, x in series.items():
        na, nb, dnum = _ks_brute(x)
        r = out[k]
        assert (r["n_ref"], r["n_cur"]) == (na, nb)
        assert r["d_num"] == dnum
        assert r["d"] == pytest.approx(dnum / (na * nb), abs=0)
        ne = na * nb / (na + nb)
        d = dnum / (na * nb)
        assert r["lambda_sq"] == pytest.approx(ne * d * d, rel=1e-12)
        assert r["p_bound"] == pytest.approx(
            min(1.0, 2.0 * math.exp(-2.0 * ne * d * d)), rel=1e-12
        )


def test_ks_drift_extremes_and_degenerates(spark):
    series = {
        "same": [1.0, 2.0, 3.0, 1.0, 2.0, 3.0],   # identical halves -> D = 0
        "disjoint": [0.0, 0.0, 0.0, 9.0, 9.0, 9.0],  # disjoint -> D = 1
        "single": [5.0],                            # empty ref half -> NULL
    }
    out = _keyed(ks_drift(_events_df(spark, series), ("user_id", "event_type"),
                          tiebreak_col="event_id"))
    assert out["same"]["d"] == 0.0 and out["same"]["p_bound"] == 1.0
    assert out["disjoint"]["d"] == 1.0
    # n=3/3, D=1: ne=1.5 -> p = 2 exp(-3) ~ 0.0996 (tiny-sample bound)
    assert out["disjoint"]["p_bound"] == pytest.approx(2.0 * math.exp(-3.0), rel=1e-12)
    assert out["single"]["d"] is None and out["single"]["p_bound"] is None


def test_ks_drift_partition_invariant(spark):
    rng = np.random.default_rng(3)
    series = {f"d{i}": [float(v) for v in rng.normal(0, 1, 40)] for i in range(6)}
    df = _events_df(spark, series)
    a = sorted(map(tuple, ks_drift(df, ("user_id", "event_type"),
                                   tiebreak_col="event_id").collect()))
    b = sorted(map(tuple, ks_drift(df.repartition(13), ("user_id", "event_type"),
                                   tiebreak_col="event_id").collect()))
    assert a == b


# ------------------------------------------------------------ psi_drift


def _psi_brute(x: list[float], k_bins: int = 10):
    n = len(x)
    na = n // 2
    nb = n - na
    if na == 0 or nb == 0:
        return None
    lo, hi = min(x), max(x)

    def _bin(v):
        if hi <= lo:
            return 0
        return min(k_bins - 1, int(math.floor((v - lo) * k_bins / (hi - lo))))

    ca = [0] * k_bins
    cb = [0] * k_bins
    for i, v in enumerate(x):
        (ca if i < na else cb)[_bin(v)] += 1
    psi = 0.0
    for b in range(k_bins):
        pa = (ca[b] + 0.5) / (na + 0.5 * k_bins)
        pb = (cb[b] + 0.5) / (nb + 0.5 * k_bins)
        psi += (pa - pb) * math.log(pa / pb)
    return psi


def test_psi_drift_matches_full_bin_recomputation(spark):
    """The analytic missing-bin closure must equal the literal
    all-K-bins sum (scaffold-free == scaffolded)."""
    rng = np.random.default_rng(21)
    series = {}
    for i in range(8):
        # tiny-through-moderate sizes exercise the smoothing closure;
        # the drift-separation check below uses only the larger keys
        n = int(rng.integers(2, 50)) if i < 4 else int(rng.integers(60, 120))
        first = rng.normal(0, 1, n // 2)
        second = rng.normal(3 * (i % 2), 1, n - n // 2)
        series[f"d{i}"] = [float(v) for v in np.concatenate([first, second])]
    out = _keyed(psi_drift(_events_df(spark, series), ("user_id", "event_type"),
                           tiebreak_col="event_id", n_bins=10))
    for k, x in series.items():
        want = _psi_brute(x)
        # the operator quantizes each term at 12dp; compare to that grid
        assert out[k]["psi"] == pytest.approx(want, abs=5e-11)
    drifted = [k for k in series if int(k[1:]) % 2 == 1 and int(k[1:]) >= 4]
    stable = [k for k in series if int(k[1:]) % 2 == 0 and int(k[1:]) >= 4]
    assert min(out[k]["psi"] for k in drifted) > max(out[k]["psi"] for k in stable)


def test_psi_drift_degenerates(spark):
    series = {
        "same": [1.0, 2.0, 1.0, 2.0],  # identical half histograms -> 0
        "const": [4.0] * 8,            # hi == lo -> all mass bin 0 -> 0
        "single": [1.0],               # empty ref half -> NULL
    }
    out = _keyed(psi_drift(_events_df(spark, series), ("user_id", "event_type"),
                           tiebreak_col="event_id", n_bins=10))
    assert out["same"]["psi"] == 0.0
    assert out["const"]["psi"] == 0.0
    assert out["single"]["psi"] is None
    with pytest.raises(ValueError, match="n_bins"):
        psi_drift(_events_df(spark, series), "user_id", n_bins=1)


def test_psi_drift_nan_value_nulls_only_its_key(spark):
    """A NaN makes the key's range NaN; its psi must be NULL, not the
    0.0 of 'every point in bin 0'.  Counts and other keys unchanged."""
    rng = np.random.default_rng(31)
    clean = [float(v) for v in np.concatenate(
        [rng.normal(0, 1, 100), rng.normal(3, 1, 100)])]
    holed = clean[:99] + [float("nan")] + clean[100:]

    def run(series):
        return _keyed(psi_drift(_events_df(spark, series),
                                ("user_id", "event_type"),
                                tiebreak_col="event_id"))

    base = run({"clean": clean, "holed": clean})
    out = run({"clean": clean, "holed": holed})
    assert base["holed"]["psi"] > 1.0
    assert out["holed"]["psi"] is None
    assert (out["holed"]["n_ref"], out["holed"]["n_cur"]) == (100, 100)
    assert out["clean"] == base["clean"]


# ------------------------------------------------------------ hill_tail


def test_hill_tail_matches_brute_force(spark):
    rng = np.random.default_rng(7)
    series = {
        f"d{i}": [float(v) for v in (rng.pareto(2.5, size=60) + 1.0)]
        for i in range(6)
    }
    k = 20
    out = _keyed(hill_tail(_events_df(spark, series), ("user_id", "event_type"),
                           tiebreak_cols=("event_id",), k=k))
    for key, x in series.items():
        mags = sorted((abs(v) for v in x if v != 0), reverse=True)
        xref = mags[k]
        want_h = sum(math.log(m) for m in mags[:k]) / k - math.log(xref)
        r = out[key]
        assert r["n_pos"] == len(mags)
        assert r["x_kth"] == pytest.approx(xref, abs=0)
        assert r["hill"] == pytest.approx(want_h, abs=5e-11)
        assert r["alpha"] == pytest.approx(1.0 / want_h, rel=1e-9)


def test_hill_tail_recovers_pareto_alpha(spark):
    rng = np.random.default_rng(42)
    alpha = 2.0
    x = (1.0 / rng.random(5000)) ** (1.0 / alpha)  # exact Pareto(alpha)
    df = _events_df(spark, {"p": [float(v) for v in x]})
    r = _keyed(hill_tail(df, ("user_id", "event_type"),
                         tiebreak_cols=("event_id",), k=200))["p"]
    assert r["alpha"] == pytest.approx(alpha, rel=0.35)


def test_hill_tail_guards(spark):
    series = {"short": [1.0, 2.0, 3.0]}
    out = _keyed(hill_tail(_events_df(spark, series), ("user_id", "event_type"),
                           tiebreak_cols=("event_id",), k=20))
    assert out["short"]["hill"] is None and out["short"]["alpha"] is None
    assert out["short"]["n_pos"] == 3
    with pytest.raises(ValueError, match="k must"):
        hill_tail(_events_df(spark, series), "user_id", k=0)


# -------------------------------------------------------------- benford


def _benford_brute(vals: list[float], scale: int = 2):
    digs = []
    for v in vals:
        tok = int(np.round(v * 10**scale))
        if tok != 0:
            digs.append(int(str(abs(tok))[0]))
    if not digs:
        return None
    n = len(digs)
    chi2, mad = 0.0, 0.0
    for d in range(1, 10):
        c = digs.count(d)
        p = BENFORD_P[d - 1]
        chi2 += (c - n * p) ** 2 / (n * p)
        mad += abs(c / n - p)
    return n, chi2, mad / 9.0


def test_benford_matches_brute_force(spark):
    rng = np.random.default_rng(13)
    series = {
        f"d{i}": [float(v) for v in rng.lognormal(3, 2, size=rng.integers(5, 80))]
        for i in range(8)
    }
    out = _keyed(benford(_events_df(spark, series), ("user_id", "event_type")))
    for k, x in series.items():
        n, chi2, mad = _benford_brute(x)
        r = out[k]
        assert r["n"] == n
        assert r["chi2"] == pytest.approx(chi2, abs=5e-9)
        assert r["mad"] == pytest.approx(mad, abs=5e-11)


def test_benford_missing_digit_closure(spark):
    # only digit 1 present: chi2 = (n - n p1)^2/(n p1) + n (1 - p1)
    series = {"ones": [1.0] * 16, "zeros": [0.0] * 5}
    out = _keyed(benford(_events_df(spark, series), ("user_id", "event_type")))
    n, p1 = 16, BENFORD_P[0]
    want = (n - n * p1) ** 2 / (n * p1) + n * (1 - p1)
    r = out["ones"]
    assert r["n_digits_present"] == 1
    assert r["chi2"] == pytest.approx(want, abs=5e-9)
    want_mad = (abs(1.0 - p1) + sum(BENFORD_P[1:])) / 9.0
    assert r["mad"] == pytest.approx(want_mad, abs=5e-11)
    assert "zeros" not in out  # all-zero tokens: no leading digits


def test_benford_conformant_sample_scores_low(spark):
    # exact Benford frequencies over 1000 tokens -> chi2 ~ 0
    counts = [round(1000 * p) for p in BENFORD_P]
    vals = [float(d) for d, c in zip(range(1, 10), counts) for _ in range(c)]
    out = _keyed(benford(_events_df(spark, {"b": vals}), ("user_id", "event_type")))
    assert out["b"]["chi2"] < 0.01
    assert out["b"]["mad"] < 0.001


# ------------------------------------------------------------ ljung_box


def _ljung_brute(x: list[int], h: int = 10):
    n = len(x)
    if n < h + 2:
        return None
    a = np.asarray(x, dtype=np.float64)
    d = a - a.mean()
    den = float(d @ d)
    if den == 0.0:
        return None
    q = 0.0
    for k in range(1, h + 1):
        rho = math.floor((float(d[: n - k] @ d[k:]) / den) * 1e6 + 0.5) / 1e6
        q += n * (n + 2) * rho * rho / (n - k)
    m = h // 2
    hh = q / 2.0
    poly = sum(hh**j / math.factorial(j) for j in range(m))
    return q, min(1.0, math.exp(-hh) * poly)


def _tokens_df(spark, seqs: dict[str, list[int]]):
    return spark.createDataFrame(
        [(k, v) for k, v in seqs.items()], "doc_id string, tokens array<int>"
    )


def test_ljung_box_matches_local_recomputation(spark):
    rng = np.random.default_rng(17)
    seqs = {
        f"d{i}": [int(v) for v in rng.integers(0, 50, size=rng.integers(12, 80))]
        for i in range(8)
    }
    out = {r["doc_id"]: r for r in ljung_box(_tokens_df(spark, seqs)).collect()}
    for k, x in seqs.items():
        q, p = _ljung_brute(x)
        r = out[k]
        assert r["n"] == len(x) and r["h"] == 10
        assert r["q_stat"] == pytest.approx(q, abs=5e-10)
        assert r["p_value"] == pytest.approx(p, abs=5e-10)


def test_ljung_box_signal_vs_noise(spark):
    rng = np.random.default_rng(23)
    noise = [int(v) for v in rng.integers(0, 1000, size=200)]
    trend = [i * 5 + int(v) for i, v in enumerate(rng.integers(0, 3, size=200))]
    out = {
        r["doc_id"]: r
        for r in ljung_box(
            _tokens_df(spark, {"noise": noise, "trend": trend})
        ).collect()
    }
    assert out["noise"]["p_value"] > 0.01   # white noise: Q small
    assert out["trend"]["p_value"] < 1e-6   # autocorrelated: Q huge


def test_ljung_box_guards(spark):
    seqs = {"short": [1, 2, 3], "const": [5] * 30}
    out = {r["doc_id"]: r for r in ljung_box(_tokens_df(spark, seqs)).collect()}
    assert out["short"]["q_stat"] is None and out["short"]["p_value"] is None
    assert out["const"]["q_stat"] is None  # zero variance
    with pytest.raises(ValueError, match="even"):
        ljung_box(_tokens_df(spark, seqs), max_lag=7)


# ------------------------------------------------------ hodges-lehmann


def _hl_local(vals):
    """Brute-force HL shift + Cliff's delta on the first/second-half
    split of one key's ordered values."""
    n = len(vals)
    ref, cur = vals[: n // 2], vals[n // 2 :]
    if not ref or not cur:
        return None, None, 0, len(ref), len(cur)
    d = np.sort(np.array([c - r for c in cur for r in ref], dtype=np.int64))
    N = len(d)
    hl = (d[(N + 1) // 2 - 1] + d[N // 2 + 1 - 1]) / 2.0
    delta = (int((d > 0).sum()) - int((d < 0).sum())) / N
    return hl, delta, N, len(ref), len(cur)


def _hl_spark(spark, series):
    from eristropy_spark.operators.drift import hodges_lehmann_drift

    rows = [
        (key, _ts(i), i, int(v))
        for key, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "sig string, ts timestamp, event_id long, value long"
    )
    return {
        r["sig"]: r
        for r in hodges_lehmann_drift(
            df, "sig", tiebreak_col="event_id"
        ).collect()
    }


def test_hodges_lehmann_matches_bruteforce(spark):
    rng = np.random.default_rng(23)
    series = {
        "shift": [int(v) for v in rng.integers(0, 40, 120)]
        + [int(v) + 17 for v in rng.integers(0, 40, 130)],
        "tied": [int(v) for v in rng.integers(0, 4, 90)],
        "null": [int(v) for v in rng.integers(-30, 30, 151)],
    }
    # planted shift applies to the generated halves, not the split
    # halves — brute force recomputes on the same full sequence
    got = _hl_spark(spark, series)
    for key, vals in series.items():
        hl, delta, N, nr, nc = _hl_local(vals)
        r = got[key]
        assert r["n_ref"] == nr and r["n_cur"] == nc and r["n_pairs"] == N
        assert r["hl_shift"] == pytest.approx(hl, abs=0)
        assert r["cliffs_delta"] == pytest.approx(delta, rel=1e-12)
    assert got["shift"]["hl_shift"] >= 10  # planted +17 shift visible
    assert got["shift"]["cliffs_delta"] > 0.3


def test_hodges_lehmann_outlier_immunity(spark):
    """One 10^6 spike in the current half moves the mean difference by
    ~4000 but the HL shift not at all."""
    base = [10] * 250 + [12] * 250
    spiked = base[:-1] + [1_000_000]
    got = _hl_spark(spark, {"base": base, "spiked": spiked})
    assert got["spiked"]["hl_shift"] == got["base"]["hl_shift"] == 2.0
    assert abs(got["spiked"]["cliffs_delta"] - got["base"]["cliffs_delta"]) < 0.02


def test_hodges_lehmann_degenerate(spark):
    got = _hl_spark(spark, {"one": [7], "two": [3, 9]})
    # n=1: ref half empty -> NULL estimates, zero pairs
    assert got["one"]["n_ref"] == 0 and got["one"]["n_pairs"] == 0
    assert got["one"]["hl_shift"] is None and got["one"]["cliffs_delta"] is None
    assert got["two"]["hl_shift"] == 6.0 and got["two"]["cliffs_delta"] == 1.0


def test_hodges_lehmann_rejects_non_integral_values(spark):
    """A double column would be truncated by the BIGINT census (halves
    of 0.4 and 0.6 read hl_shift 0.0): it must raise instead; integer
    and scale-0 decimal columns pass."""
    from eristropy_spark.operators.drift import hodges_lehmann_drift

    df = _events_df(spark, {"a": [0.4] * 5 + [0.6] * 5})
    with pytest.raises(ValueError, match="integral"):
        hodges_lehmann_drift(df, "user_id", tiebreak_col="event_id")
    for t in ("int", "decimal(10,0)"):
        q = df.withColumn("value", F.round(F.col("value") * 10).cast(t))
        (r,) = hodges_lehmann_drift(q, "user_id", tiebreak_col="event_id").collect()
        assert (r["hl_shift"], r["cliffs_delta"]) == (2.0, 1.0)


def test_hodges_lehmann_partition_invariance(spark):
    from eristropy_spark.operators.drift import hodges_lehmann_drift

    rng = np.random.default_rng(29)
    rows = [
        (f"s{i % 5}", _ts(i), i, int(rng.integers(-100, 100)))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "sig string, ts timestamp, event_id long, value long"
    )
    a = hodges_lehmann_drift(df.repartition(1), "sig", tiebreak_col="event_id")
    b = hodges_lehmann_drift(df.repartition(11), "sig", tiebreak_col="event_id")
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


# ------------------------------------------------------ anderson-darling


def _ad_local(vals):
    """scipy-free midrank two-sample AD (Scholz-Stephens eq. 7, k=2)."""
    n = len(vals)
    samples = [
        np.array(vals[: n // 2], float),
        np.array(vals[n // 2 :], float),
    ]
    Z = np.sort(np.concatenate(samples))
    N = len(Z)
    Zstar = np.unique(Z)
    lj = np.searchsorted(Z, Zstar, "right") - np.searchsorted(Z, Zstar, "left")
    Bj = np.searchsorted(Z, Zstar, "left") + lj / 2
    A = 0.0
    for s in samples:
        s = np.sort(s)
        Mij = np.searchsorted(s, Zstar, "left") + (
            np.searchsorted(s, Zstar, "right")
            - np.searchsorted(s, Zstar, "left")
        ) / 2
        with np.errstate(divide="ignore", invalid="ignore"):
            inner = lj / N * (N * Mij - Bj * len(s)) ** 2 / (
                Bj * (N - Bj) - N * lj / 4
            )
        A += np.where(np.isfinite(inner), inner, 0.0).sum() / len(s)
    return (N - 1) / N * A


def _ad_spark(spark, series):
    from eristropy_spark.operators.drift import ad_drift

    rows = [
        (key, _ts(i), i, int(v))
        for key, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "sig string, ts timestamp, event_id long, value long"
    )
    return {
        r["sig"]: r
        for r in ad_drift(df, "sig", tiebreak_col="event_id").collect()
    }


def test_ad_drift_matches_local(spark):
    rng = np.random.default_rng(31)
    series = {
        "null": rng.integers(0, 50, 301).tolist(),
        "shift": rng.integers(0, 50, 150).tolist()
        + (rng.integers(0, 50, 150) + 12).tolist(),
        "const": [7] * 40,
    }
    got = _ad_spark(spark, series)
    for key, vals in series.items():
        assert got[key]["a2"] == pytest.approx(_ad_local(vals), rel=1e-9)
    assert got["const"]["a2"] == 0.0
    assert got["shift"]["a2"] > 10 > 2.5 > got["null"]["a2"]


def test_ad_drift_tail_sensitivity(spark):
    """A pure tail blow-up (same median, 10% of the second half pushed
    into new extreme territory): AD flags it clearly."""
    rng = np.random.default_rng(37)
    body = rng.integers(20, 30, 150).tolist()
    tail_half = (
        rng.integers(20, 30, 125).tolist() + rng.integers(0, 200, 25).tolist()
    )
    got = _ad_spark(spark, {"tail": body + tail_half})
    assert got["tail"]["a2"] == pytest.approx(_ad_local(body + tail_half), rel=1e-9)
    assert got["tail"]["a2"] > 2.5  # ~alpha=0.05 critical region for k=2


def test_ad_drift_degenerate_and_invariance(spark):
    from eristropy_spark.operators.drift import ad_drift

    got = _ad_spark(spark, {"one": [5]})
    assert got["one"]["a2"] is None  # empty ref half

    rng = np.random.default_rng(41)
    rows = [
        (f"s{i % 4}", _ts(i), i, int(rng.integers(-40, 40)))
        for i in range(360)
    ]
    df = spark.createDataFrame(
        rows, "sig string, ts timestamp, event_id long, value long"
    )
    a = ad_drift(df.repartition(1), "sig", tiebreak_col="event_id")
    b = ad_drift(df.repartition(9), "sig", tiebreak_col="event_id")
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


# ------------------------------------------- the drift family's split

_SPLIT_SIZES = {"one": 1, "two": 2, "odd": 7, "mid": 40, "big": 101}


@pytest.mark.parametrize("name", drift.__all__)
def test_drift_split_counts_and_partition_invariance(spark, name):
    """Every drift operator: n_ref = floor(n/2), n_cur = n − floor(n/2)
    wherever reported (a 1-point key has n_ref = 0), and the same rows
    under 1 and 13 partitions when tied ts are broken by tiebreak_col."""
    rng = np.random.default_rng(37)
    rows = [
        (k, "abc"[int(rng.integers(0, 3))], _ts(i // 3), i,
         int(rng.integers(0, 12)))
        for k, n in _SPLIT_SIZES.items()
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "user_id string, cat string, ts timestamp, event_id long, value long",
    )
    kw = {"cat_col": "cat"} if name == "categorical_drift" else {}
    op = getattr(drift, name)
    a = op(df.repartition(1), "user_id", tiebreak_col="event_id", **kw)
    b = op(df.repartition(13), "user_id", tiebreak_col="event_id", **kw)
    rows_a = a.collect()
    assert sorted(map(repr, rows_a)) == sorted(map(repr, b.collect()))
    if "n_ref" in a.columns:
        got = {r["user_id"]: (r["n_ref"], r["n_cur"]) for r in rows_a}
        assert got == {k: (n // 2, n - n // 2) for k, n in _SPLIT_SIZES.items()}
