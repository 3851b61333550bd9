"""Spark-vs-kernel equivalence and pipeline tests (SURVEY.md §5 strategy b).

Fixtures mirror the reference's canonical test signals (FIXTURES.md §3);
token tables are built with float64 arrays (the operators cast to
double regardless, and the reference kernels are float64 — int32
quantization is exercised separately by the sources tests).
"""

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from eristropy_spark.kernels.adf import holm_sidak_reject
from eristropy_spark.kernels.permen import permen as permen_kernel
from eristropy_spark.kernels.sampen import sampen as sampen_kernel
from eristropy_spark.kernels.transforms import znorm
from eristropy_spark.operators.entropy import compute_entropy
from eristropy_spark.operators.sample_entropy import SampleEntropyOp
from eristropy_spark.operators.stationarity import holm_sidak_filter, make_stationary


def _tokens_df(spark, signals: dict[str, np.ndarray], source: str = "srcA"):
    rows = [
        Row(doc_id=k, tokens=[float(v) for v in x], n_tok=len(x), source=source)
        for k, x in signals.items()
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def linear_sine_df(spark):
    # tests/test_stationarity.py:8-19
    return _tokens_df(
        spark,
        {
            "abc": np.linspace(0, 100, 100),
            "def": np.sin(np.linspace(0, 2 * np.pi, 100)),
        },
    )


# ------------------------------------------------------------- entropy op


def test_compute_entropy_matches_kernel(spark):
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=120) for i in range(5)}
    df = _tokens_df(spark, sigs)
    got = {
        r["doc_id"]: (r["sampen"], r["permen"])
        for r in compute_entropy(df, m=2, r=0.2).collect()
    }
    for k, x in sigs.items():
        np.testing.assert_almost_equal(got[k][0], sampen_kernel(x, 2, 0.2))
        np.testing.assert_almost_equal(
            got[k][1], permen_kernel(x, 3, 1, normalize=True)
        )


def test_compute_entropy_normalized_matches_kernel(spark):
    rng = np.random.default_rng(3)
    sigs = {f"s{i}": rng.normal(loc=50, scale=9, size=100) for i in range(3)}
    df = _tokens_df(spark, sigs)
    got = {r["doc_id"]: r["sampen"] for r in compute_entropy(df, m=1, r=0.2, normalize=True).collect()}
    for k, x in sigs.items():
        want = sampen_kernel(znorm(x), 1, 0.2)
        np.testing.assert_almost_equal(got[k], want, decimal=8)


# --------------------------------------------------------- stationarity


def test_make_stationary_linear_sine(spark, linear_sine_df):
    # reference expectation (tests/test_stationarity.py:62-75):
    # fraction 0.5, survivor {"def"}
    res = make_stationary(linear_sine_df, method="difference", normalize=False)
    assert res.stationary_frac == 0.5
    assert res.n_signals == 2
    rows = res.df.collect()
    assert [r["doc_id"] for r in rows] == ["def"]
    # difference output drops the first element
    assert rows[0]["n_tok"] == 99
    want = np.diff(np.sin(np.linspace(0, 2 * np.pi, 100)))
    np.testing.assert_allclose(np.array(rows[0]["tokens"]), want, atol=1e-12)


def test_make_stationary_normalize(spark, linear_sine_df):
    res = make_stationary(linear_sine_df, method="difference", normalize=True)
    x = np.array(res.df.collect()[0]["tokens"])
    np.testing.assert_almost_equal(x.mean(), 0.0)
    np.testing.assert_almost_equal(x.std(ddof=1), 1.0)  # hazard 4: ddof=1


def test_make_stationary_detrend_lr(spark):
    rng = np.random.default_rng(17)
    sigs = {
        "noisy": rng.uniform(-5, 5, size=100),
        "trendy": 3.0 * np.arange(100) + rng.normal(size=100),
    }
    res = make_stationary(
        _tokens_df(spark, sigs), method="detrend", detrend_type="lr", normalize=False
    )
    # both detrend to stationary noise
    assert res.stationary_frac == 1.0
    rows = {r["doc_id"]: np.array(r["tokens"]) for r in res.df.collect()}
    assert rows["trendy"].shape == (100,)
    assert abs(rows["trendy"].mean()) < 1.0  # residuals, trend removed


def test_make_stationary_validation(spark, linear_sine_df):
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, method="invalid")
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, detrend_type="zz", method="detrend")
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, alpha=-0.1)
    with pytest.raises(ValueError):
        make_stationary(linear_sine_df, ls_range=(0.0, 50.0), method="detrend")


def test_holm_sidak_filter_matches_kernel(spark):
    rng = np.random.default_rng(5)
    p = np.concatenate([rng.uniform(0, 0.01, 40), rng.uniform(0, 1, 160)])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", pvalue=float(v)) for i, v in enumerate(p)]
    )
    got = {
        r["doc_id"]: r["is_stationary"] for r in holm_sidak_filter(df, 0.05).collect()
    }
    want = holm_sidak_reject(p, 0.05)
    assert sum(got.values()) == int(want.sum())
    for i in range(len(p)):
        assert got[f"d{i}"] == bool(want[i]), f"mismatch at {i} (p={p[i]})"


# -------------------------------------------------------- param search


def test_sample_entropy_op_end_to_end(spark):
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=60) for i in range(3)}
    df = _tokens_df(spark, sigs)
    op = SampleEntropyOp(
        df, n_boot=10, n_trials=3, random_seed=42, lam=0.33
    )
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore")  # low n_boot/n_trials warnings are expected
        out = op.compute_all_sampen(optimize=True, estimate_uncertainty=True)
    rows = out.collect()
    assert len(rows) == 3
    assert set(out.columns) == {"doc_id", "sampen", "se_sampen"}
    assert not math.isnan(op.r_star_)
    trials = op.get_optimization_results()
    assert len(trials) == 3


def test_sample_entropy_op_deterministic(spark):
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=60) for i in range(2)}
    import warnings as w

    results = []
    for _ in range(2):
        df = _tokens_df(spark, sigs)
        op = SampleEntropyOp(df, n_boot=10, n_trials=3, random_seed=7)
        with w.catch_warnings():
            w.simplefilter("ignore")
            op.find_optimal_params()
        results.append((op.m_star_, op.r_star_, op.p_star_, [t.value for t in op.trials_]))
    assert results[0][:3] == results[1][:3]
    np.testing.assert_array_equal(results[0][3], results[1][3])  # NaN-aware


def test_sample_entropy_op_failure_path(spark):
    # short signals + tight r_range => all-NaN objectives => warning + NaN params
    rng = np.random.default_rng(17)
    sigs = {f"s{i}": rng.normal(size=15) for i in range(2)}
    df = _tokens_df(spark, sigs)
    import warnings as w

    from eristropy_spark.operators.sample_entropy import OptimizationFailureWarning

    op = SampleEntropyOp(
        df, n_boot=10, n_trials=2, random_seed=1, r_range=(1e-6, 2e-6), m_range=(1, 2)
    )
    with w.catch_warnings():
        w.simplefilter("ignore", category=UserWarning)
        with pytest.warns(OptimizationFailureWarning):
            op.find_optimal_params()
    assert math.isnan(op.r_star_)
    with pytest.raises(ValueError):
        op.compute_all_sampen()


@pytest.mark.parametrize("objective", ["mse", "sampen_eff"])
def test_sample_entropy_trial_nan_poisons(spark, objective):
    """One signal too short for SampEn makes the trial objective NaN
    (np.mean / np.median semantics), although the boundary hands its
    undefined per-signal value to Spark as NULL, which avg and median
    would skip."""
    rng = np.random.default_rng(3)
    sigs = {"long": rng.normal(size=200), "short": rng.normal(size=6)}
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore")  # low n_boot warning is expected
        op = SampleEntropyOp(_tokens_df(spark, sigs), objective=objective, n_boot=50)
        assert math.isnan(op._trial_objective(2, 0.2, 0.5))
        # the long signal alone has a finite objective
        op = SampleEntropyOp(
            _tokens_df(spark, {"long": sigs["long"]}), objective=objective, n_boot=50
        )
        assert math.isfinite(op._trial_objective(2, 0.2, 0.5))


def test_sample_entropy_op_min_length_guard(spark):
    sigs = {"a": np.arange(2.0)}
    with pytest.raises(ValueError):
        SampleEntropyOp(_tokens_df(spark, sigs), m_range=(1, 3))


def test_make_stationary_detrend_gp(spark):
    # GP path (W3-W11): heaviest transform; small fixture, seeded ls draws
    rng = np.random.default_rng(17)
    sigs = {
        "noisy": rng.normal(size=40),
        "trendy": 0.5 * np.arange(40) + rng.normal(scale=0.1, size=40),
    }
    res = make_stationary(
        _tokens_df(spark, sigs),
        method="detrend",
        detrend_type="gp",
        random_seed=17,
        n_searches=3,
        n_splits=3,
        normalize=False,
        keep_all=True,
    )
    rows = {r["doc_id"]: np.array(r["tokens"]) for r in res.df.collect()}
    assert rows["trendy"].shape == (40,)
    # the GP trend absorbs the ramp: residuals are near zero-mean and
    # much smaller than the original trend range (~20)
    assert abs(rows["trendy"].mean()) < 0.5
    assert np.abs(rows["trendy"]).max() < 2.0
    # deterministic under the same seed
    res2 = make_stationary(
        _tokens_df(spark, sigs),
        method="detrend",
        detrend_type="gp",
        random_seed=17,
        n_searches=3,
        n_splits=3,
        normalize=False,
        keep_all=True,
    )
    rows2 = {r["doc_id"]: np.array(r["tokens"]) for r in res2.df.collect()}
    np.testing.assert_array_equal(rows["trendy"], rows2["trendy"])


def test_compute_entropy_native_dtype_equals_double_cast(spark):
    """The entropy projection reads the token list column in its native
    dtype (int32 for token tables, no float64 image of the batch); the
    result equals the same tokens cast to ``array<double>`` to the bit,
    with ``se_sampen`` included."""
    rng = np.random.default_rng(9)
    rows = [
        (f"t{i}", f"src{i % 2}", rng.integers(-40, 40, size=int(n)).tolist())
        for i, n in enumerate(rng.integers(1, 120, size=50))
    ]
    rows += [("const", "src0", [3] * 20), ("alt", "src1", [-1, 1] * 12)]
    rows += [("none", "src0", None), ("empty", "src1", [])]
    for dtype in ("int", "bigint"):
        df = spark.createDataFrame(
            rows, f"doc_id string, source string, tokens array<{dtype}>"
        )
        dbl = df.withColumn("tokens", df["tokens"].cast("array<double>"))
        a, b = (
            {
                r["doc_id"]: tuple(r)[2:]
                for r in compute_entropy(
                    d, m=2, r=0.2, normalize=True, estimate_uncertainty=True,
                    n_boot=20, seed=3,
                ).collect()
            }
            for d in (df, dbl)
        )
        assert a.keys() == b.keys() == {row[0] for row in rows}
        for k in a:
            got = np.array(a[k], dtype=np.float64)  # None -> nan
            want = np.array(b[k], dtype=np.float64)
            np.testing.assert_array_equal(got, want)  # NaN-aware, exact
