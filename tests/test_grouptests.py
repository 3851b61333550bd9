"""kruskal_wallis / brown_forsythe / chi2_drift — value parity against
numpy midrank/median recomputation, discrimination pins, degenerate
guards."""

import numpy as np
import pytest

from eristropy_spark.operators.drift import chi2_drift
from eristropy_spark.operators.grouptests import brown_forsythe, kruskal_wallis


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "source string, value int")


def _kw_local(pairs):
    vals = np.array([v for _, v in pairs], dtype=float)
    grps = np.array([g for g, _ in pairs])
    uniq, inv, cnts = np.unique(vals, return_inverse=True, return_counts=True)
    midrank = np.cumsum(cnts) - (cnts - 1) / 2.0
    rk = midrank[inv]
    n = len(vals)
    s = sum(
        rk[grps == g].sum() ** 2 / (grps == g).sum() for g in set(grps)
    )
    h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    ties = (cnts.astype(float) ** 3 - cnts).sum()
    c = 1 - ties / (n**3 - n)
    return h, (h / c if c > 0 else None)


def _bf_local(pairs):
    vals = np.array([v for _, v in pairs], dtype=float)
    grps = np.array([g for g, _ in pairs])
    groups = sorted(set(grps))
    zs = [np.abs(vals[grps == g] - np.median(vals[grps == g])) for g in groups]
    n, k = len(vals), len(groups)
    zbar = np.concatenate(zs).mean()
    ssb = sum(len(z) * (z.mean() - zbar) ** 2 for z in zs)
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs)
    if ssw == 0:
        return None
    return (n - k) / (k - 1) * ssb / ssw


def test_kruskal_wallis_matches_numpy(spark):
    rng = np.random.default_rng(3)
    pairs = [
        (f"g{j}", int(v))
        for j, mu in enumerate([0, 8, -4])
        for v in rng.normal(mu, 12, 150).round()
    ]
    h_ref, hadj_ref = _kw_local(pairs)
    rows = kruskal_wallis(_df(spark, pairs)).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["h"] == pytest.approx(h_ref, rel=1e-6)
        assert r["h_adj"] == pytest.approx(hadj_ref, rel=1e-6)
        assert r["n_total"] == len(pairs) and r["k"] == 3
    # shifted group must carry the larger mean rank
    by = {r["group"]: r for r in rows}
    assert by["g1"]["mean_rank"] > by["g0"]["mean_rank"] > by["g2"]["mean_rank"]


def test_kruskal_wallis_null_under_exchangeability(spark):
    rng = np.random.default_rng(5)
    pairs = [
        (f"g{j}", int(v))
        for j in range(4)
        for v in rng.integers(-1000, 1000, 200)
    ]
    h = kruskal_wallis(_df(spark, pairs)).collect()[0]["h_adj"]
    # chi2(3) 99th percentile ~ 11.34
    assert h < 11.34


def test_kruskal_wallis_degenerate(spark):
    one = kruskal_wallis(_df(spark, [("a", 1), ("a", 2), ("a", 3)])).collect()
    assert one[0]["h"] is None  # k < 2
    tied = kruskal_wallis(
        _df(spark, [("a", 7), ("a", 7), ("b", 7), ("b", 7)])
    ).collect()
    assert tied[0]["h"] is not None and tied[0]["h_adj"] is None  # C = 0


def test_brown_forsythe_matches_numpy(spark):
    rng = np.random.default_rng(7)
    pairs = [
        (f"g{j}", int(v))
        for j, sd in enumerate([5, 5, 40])
        for v in rng.normal(0, sd, 180).round()
    ]
    ref = _bf_local(pairs)
    rows = brown_forsythe(_df(spark, pairs)).collect()
    for r in rows:
        assert r["w_stat"] == pytest.approx(ref, rel=1e-6)
        assert r["df1"] == 2 and r["df2"] == len(pairs) - 3
    # W must be large: group g2 has 8x the scale
    assert rows[0]["w_stat"] > 10.0
    by = {r["group"]: r for r in rows}
    for g, sd in [("g0", 5), ("g1", 5), ("g2", 40)]:
        vals = np.array([v for gg, v in pairs if gg == g], dtype=float)
        assert by[g]["median"] == pytest.approx(np.median(vals))
        assert by[g]["z_mean"] == pytest.approx(
            np.abs(vals - np.median(vals)).mean(), rel=1e-6
        )


def test_brown_forsythe_degenerate(spark):
    # all groups constant -> SSW = 0 -> NULL
    rows = brown_forsythe(
        _df(spark, [("a", 1)] * 5 + [("b", 9)] * 5)
    ).collect()
    assert all(r["w_stat"] is None for r in rows)


def _chi2_local(ref, cur):
    vals = sorted(set(ref) | set(cur))
    na, nb = len(ref), len(cur)
    s = 0.0
    for v in vals:
        ca, cb = ref.count(v), cur.count(v)
        s += (ca * nb - na * cb) ** 2 / ((ca + cb) * na * nb)
    return s, len(vals) - 1


def test_chi2_drift_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    ref = [int(v) for v in rng.integers(0, 12, 160)]
    cur = [int(v) for v in rng.integers(3, 15, 140)]
    rows = [("k1", i, float(v)) for i, v in enumerate(ref + cur)]
    df = spark.createDataFrame(rows, "key string, ts long, value double")
    out = chi2_drift(df, "key", ts_col="ts").collect()[0]
    chi2_ref, df_ref = _chi2_local(
        [float(v) for v in ref[: len(ref)]],
        [float(v) for v in (ref + cur)[150:]],
    )
    # recompute the exact halves the operator uses: first floor(n/2)
    n = len(ref) + len(cur)
    all_vals = [float(v) for v in ref + cur]
    a, b = all_vals[: n // 2], all_vals[n // 2 :]
    chi2_ref, df_ref = _chi2_local(a, b)
    assert out["n_ref"] == n // 2 and out["n_cur"] == n - n // 2
    assert out["chi2"] == pytest.approx(chi2_ref, rel=1e-6)
    assert out["dfree"] == df_ref


def test_chi2_drift_null_and_shift(spark):
    rng = np.random.default_rng(13)
    stable = [float(v) for v in rng.integers(0, 10, 400)]
    shifted = [float(v) for v in rng.integers(0, 10, 200)] + [
        float(v) for v in rng.integers(20, 30, 200)
    ]
    rows = [("stable", i, v) for i, v in enumerate(stable)] + [
        ("shifted", i, v) for i, v in enumerate(shifted)
    ]
    df = spark.createDataFrame(rows, "key string, ts long, value double")
    out = {r["key"]: r for r in chi2_drift(df, "key", ts_col="ts").collect()}
    assert out["shifted"]["chi2"] > 100.0
    # stable: chi2 ~ df (here 9), give generous headroom
    assert out["stable"]["chi2"] < 3.0 * out["stable"]["dfree"] + 20
    one = spark.createDataFrame(
        [("k", 0, 1.0)], "key string, ts long, value double"
    )
    assert chi2_drift(one, "key", ts_col="ts").collect()[0]["chi2"] is None


# ---------------------------------------------------------- friedman/page


def _fp_df(spark, rows):
    from eristropy_spark.operators.grouptests import friedman_page

    df = spark.createDataFrame(rows, "block int, treatment string, value long")
    return friedman_page(df, "block", "treatment", "value")


def _fp_local(rows):
    """Scipy-free Friedman chi2 (+ tie correction) and Page L/z."""
    cells = {}
    for b, t, v in rows:
        cells.setdefault(b, {})[t] = v
    treats = sorted({t for _, t, _ in rows})
    k = len(treats)
    complete = {b: d for b, d in cells.items() if len(d) == k}
    n = len(complete)
    R = np.zeros(k)
    tie = 0.0
    for d in complete.values():
        v = np.array([d[t] for t in treats], dtype=float)
        uniq, inv, cnts = np.unique(v, return_inverse=True, return_counts=True)
        mid = np.cumsum(cnts) - (cnts - 1) / 2.0
        R += mid[inv]
        tie += float((cnts.astype(float) ** 3 - cnts).sum())
    chi2 = 12.0 / (n * k * (k + 1)) * float((R**2).sum()) - 3 * n * (k + 1)
    c = 1 - tie / (n * k * (k * k - 1))
    L = float((np.arange(1, k + 1) * R).sum())
    z = (12 * L - 3 * n * k * (k + 1) ** 2) / np.sqrt(
        n * k * k * (k * k - 1) * (k + 1)
    )
    return chi2, (chi2 / c if c > 0 else None), L, z, n, k


def test_friedman_page_matches_local(spark):
    rng = np.random.default_rng(11)
    rows = []
    for b in range(35):
        base = int(rng.integers(-100, 100))
        for j, t in enumerate(["t0", "t1", "t2", "t3", "t4"]):
            # small integer range forces within-block ties
            rows.append((b, t, base + 2 * j + int(rng.integers(-3, 4))))
    chi2, chi2_adj, L, z, n, k = _fp_local(rows)
    got = _fp_df(spark, rows).collect()
    assert len(got) == 5
    for r in got:
        assert r["chi2"] == pytest.approx(chi2, rel=1e-12)
        assert r["chi2_adj"] == pytest.approx(chi2_adj, rel=1e-12)
        assert r["page_l"] == pytest.approx(L, rel=1e-12)
        assert r["page_z"] == pytest.approx(z, rel=1e-12)
        assert r["n_blocks"] == n and r["k"] == k
    by = {r["treatment"]: r for r in got}
    assert by["t4"]["mean_rank"] > by["t0"]["mean_rank"]
    assert z > 3.0  # planted monotone trend


def test_friedman_blocks_cancel_level_shifts(spark):
    """Huge between-block shifts with NO treatment effect: Friedman
    stays null-calibrated (kruskal on the same data would blow up)."""
    rng = np.random.default_rng(13)
    rows = []
    for b in range(60):
        base = int(rng.integers(-10_000, 10_000)) * 100
        for t in ["a", "b", "c"]:
            rows.append((b, t, base + int(rng.integers(0, 50))))
    r = _fp_df(spark, rows).collect()[0]
    # chi2(2) 99th percentile ~ 9.21
    assert r["chi2_adj"] < 9.21
    assert abs(r["page_z"]) < 2.58


def test_friedman_incomplete_blocks_drop(spark):
    rng = np.random.default_rng(17)
    full = []
    for b in range(20):
        for j, t in enumerate(["a", "b", "c"]):
            full.append((b, t, int(rng.integers(0, 100)) + 5 * j))
    extra = [(99, "a", 1), (99, "b", 2)]  # missing c
    dup = [(98, "a", 1), (98, "a", 2), (98, "b", 3), (98, "c", 4)]  # dup cell
    want = _fp_df(spark, full).orderBy("treatment").collect()
    got = _fp_df(spark, full + extra + dup).orderBy("treatment").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_friedman_degenerate(spark):
    # k = 1: chi2 NULL
    one = _fp_df(spark, [(0, "a", 1), (1, "a", 2)]).collect()
    assert one[0]["chi2"] is None and one[0]["page_z"] is None
    # all blocks fully tied: C = 0 -> chi2_adj NULL
    tied = _fp_df(
        spark, [(b, t, 7) for b in range(4) for t in ["a", "b", "c"]]
    ).collect()
    assert tied[0]["chi2"] is not None and tied[0]["chi2_adj"] is None
    # k = 2: Friedman defined, Page needs k >= 3
    two = _fp_df(
        spark, [(b, t, b * 2 + (1 if t == "b" else 0)) for b in range(5)
                for t in ["a", "b"]]
    ).collect()
    assert two[0]["chi2"] is not None and two[0]["page_z"] is None


def test_friedman_partition_invariance(spark):
    from eristropy_spark.operators.grouptests import friedman_page

    rng = np.random.default_rng(19)
    rows = [
        (b, f"t{j}", int(rng.integers(-50, 50)))
        for b in range(30)
        for j in range(4)
    ]
    df = spark.createDataFrame(rows, "block int, treatment string, value long")
    a = friedman_page(df.repartition(1)).orderBy("treatment").collect()
    b = friedman_page(df.repartition(13)).orderBy("treatment").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


# ------------------------------------------------------------ cochran q


def _cq_df(spark, rows):
    from eristropy_spark.operators.grouptests import cochran_q

    df = spark.createDataFrame(rows, "block int, treatment string, value long")
    return cochran_q(df, "block", "treatment", "value")


def test_cochran_q_matches_local(spark):
    rng = np.random.default_rng(71)
    ps = {"a": 0.2, "b": 0.5, "c": 0.8}
    rows = [
        (b, t, int(rng.uniform() < p))
        for b in range(80)
        for t, p in ps.items()
    ]
    got = _cq_df(spark, rows).orderBy("treatment").collect()
    C = {t: 0 for t in ps}
    R = np.zeros(80, dtype=np.int64)
    for b, t, x in rows:
        C[t] += x
        R[b] += x
    N, k = sum(C.values()), 3
    num = (k - 1) * (k * sum(v * v for v in C.values()) - N * N)
    den = k * N - int((R * R).sum())
    for r in got:
        assert r["q"] == pytest.approx(num / den, rel=0)  # exact division
        assert r["k"] == 3 and r["df"] == 2
    by = {r["treatment"]: r for r in got}
    assert by["c"]["successes"] > by["a"]["successes"]
    assert got[0]["q"] > 9.21  # chi2(2) 99th pct — planted effect found


def test_cochran_q_null_calibrated_and_degenerate(spark):
    rng = np.random.default_rng(73)
    rows = [
        (b, t, int(rng.uniform() < 0.5))
        for b in range(120)
        for t in ["a", "b", "c", "d"]
    ]
    assert _cq_df(spark, rows).collect()[0]["q"] < 11.34  # chi2(3) 99th

    # all blocks all-1: denominator 0 -> NULL
    allsame = [(b, t, 1) for b in range(6) for t in ["a", "b"]]
    assert _cq_df(spark, allsame).collect()[0]["q"] is None
    # k = 1 -> NULL
    assert _cq_df(spark, [(0, "a", 1), (1, "a", 0)]).collect()[0]["q"] is None


def test_cochran_q_incomplete_blocks_and_validation(spark):
    rng = np.random.default_rng(79)
    full = [
        (b, t, int(rng.uniform() < 0.4))
        for b in range(25)
        for t in ["a", "b", "c"]
    ]
    ragged = full + [(99, "a", 1)]  # incomplete block drops
    want = _cq_df(spark, full).orderBy("treatment").collect()
    got = _cq_df(spark, ragged).orderBy("treatment").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    with pytest.raises(Exception, match="0/1"):
        _cq_df(spark, [(0, "a", 2), (0, "b", 1)]).collect()


def test_cochran_q_partition_invariance(spark):
    from eristropy_spark.operators.grouptests import cochran_q

    rng = np.random.default_rng(83)
    rows = [
        (b, f"t{j}", int(rng.uniform() < 0.3 + 0.1 * j))
        for b in range(40)
        for j in range(4)
    ]
    df = spark.createDataFrame(rows, "block int, treatment string, value long")
    a = cochran_q(df.repartition(1)).orderBy("treatment").collect()
    b = cochran_q(df.repartition(13)).orderBy("treatment").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


# ------------------------------------------------------ NULL values


def _kgroup_rows(spark, rows, nulls):
    return spark.createDataFrame(rows + nulls, "source string, value long")


def _block_rows(spark, rows, nulls):
    return spark.createDataFrame(
        rows + nulls, "block int, treatment string, value long"
    )


@pytest.mark.parametrize(
    "name",
    [
        "kruskal_wallis",
        "brown_forsythe",
        "jonckheere_terpstra",
        "mood_median",
        "conover_squared_ranks",
        "friedman_page",
        "quade",
    ],
)
def test_null_values_are_absent(spark, name):
    """A NULL value is neither counted nor ranked: the rows equal those
    of the same input without it.  For the blocked tests a NULL cell
    is an absent cell, so its block is incomplete and dropped."""
    from eristropy_spark.operators import grouptests

    op = getattr(grouptests, name)
    if name in ("friedman_page", "quade"):
        rng = np.random.default_rng(17)
        rows = [
            (b, t, int(rng.integers(0, 6)))
            for b in range(8)
            for t in ("a", "b", "c")
            if not (b == 2 and t == "b")
        ]
        make, nulls = _block_rows, [(2, "b", None), (5, "c", None)]
        rows = [r for r in rows if r[:2] != (5, "c")]
    else:
        rows = [
            (g, v)
            for g, vals in {
                "a": [3, 1, 4, 1],
                "b": [5, 9, 2, 6],
                "c": [5, 3, 5, 8],
            }.items()
            for v in vals
        ]
        make, nulls = _kgroup_rows, [("a", None), ("a", None)]
    with_nulls = sorted(op(make(spark, rows, nulls)).collect())
    without = sorted(op(make(spark, rows, [])).collect())
    assert with_nulls == without
