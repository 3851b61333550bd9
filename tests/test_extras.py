"""SampEnEfficiency (Lake et al. r-selection) tests.

The reference ships no tests for extras.py, so these pin our own
contract: CP cross-checks against the SampEn kernel, objective
properties, and the grid/interp/argmin selection logic.
"""

import math

import numpy as np
import pytest
from pyspark.sql import Row

from eristropy_spark.functions.efficiency import bootstrap_obj, counting_obj
from eristropy_spark.kernels import lake
from eristropy_spark.kernels.lake import cp_mean_sd, cp_mean_sd_grid
from eristropy_spark.kernels.rng import sequence_rng
from eristropy_spark.kernels.sampen import sampen
from eristropy_spark.operators.extras import SampEnEfficiencyOp


def test_cp_matches_sampen():
    # -log(CP) must equal SampEn exactly (same A/B counts)
    rng = np.random.default_rng(17)
    for n in (80, 150):
        for m in (1, 2):
            x = rng.normal(size=n)
            cp, sd = cp_mean_sd(x, m, 0.25)
            s = sampen(x, m, 0.25)
            assert sd > 0
            np.testing.assert_allclose(-math.log(cp), s, rtol=0, atol=1e-12)


def _lake_accumulators(counts_fn, x, m, rs, chunk_rows):
    n, ncols, i_idx = lake._shared_geometry(x)
    mm = m + 1
    acc = [
        {
            "A": np.zeros(mm, dtype=np.int64),
            "Blast": np.zeros(mm, dtype=np.int64),
            "F1": [np.zeros(n, dtype=np.int64) for _ in range(mm)],
            "F2": [np.zeros(n, dtype=np.int64) for _ in range(mm)],
            "R1": None,
        }
        for _ in rs
    ]
    for t0 in range(0, ncols, chunk_rows):
        counts_fn(x, n, ncols, i_idx, rs, mm, t0, min(t0 + chunk_rows, ncols), acc)
    return acc


def test_chunk_counts_hist_equals_per_r_path():
    # the histogram path must give the per-r path's exact accumulators
    # for an ascending grid: across m, tied values, NaN samples,
    # duplicate r's and lag-row chunks split at arbitrary t0
    rng = np.random.default_rng(23)
    for trial in range(40):
        m = int(rng.integers(1, 4))
        n = int(rng.integers(2 * m + 3, 70))
        if trial % 2:
            x = rng.integers(0, 4, size=n).astype(np.float64)  # ties
        else:
            x = rng.normal(size=n)
        if trial % 3 == 0:
            x[rng.integers(0, n, size=2)] = np.nan
        rs = sorted(rng.choice([0.0, 0.3, 0.5, 1.0, 1.0, 2.0, np.inf], size=5))
        chunk_rows = max(2 * (m + 1), int(rng.integers(1, n)))
        want = _lake_accumulators(lake._chunk_counts, x, m, rs, chunk_rows)
        got = _lake_accumulators(lake._chunk_counts_hist, x, m, rs, chunk_rows)
        for w, g in zip(want, got):
            for key in ("A", "Blast", "R1"):
                np.testing.assert_array_equal(g[key], w[key], err_msg=key)
            for key in ("F1", "F2"):
                for o in range(m + 1):
                    np.testing.assert_array_equal(g[key][o], w[key][o], err_msg=key)


def test_cp_grid_any_order_matches_single_r():
    # an unsorted grid with duplicates and a NaN answers in the caller's
    # order, each entry equal to its own single-r call
    rng = np.random.default_rng(5)
    for m in (1, 2):
        x = rng.normal(size=90)
        x[10] = x[40]  # a tie
        rs = [0.9, 0.2, 0.5, 0.2, float("nan"), 0.35]
        grid = cp_mean_sd_grid(x, m, rs)
        for r, got in zip(rs, grid):
            np.testing.assert_array_equal(got, cp_mean_sd(x, m, r))
        assert grid[0] != grid[1]


def test_counting_obj_properties():
    rng = np.random.default_rng(3)
    x = rng.normal(size=150)
    # objective finite and positive for reasonable r
    v = counting_obj(x, 1, 0.2)
    assert v > 0 and np.isfinite(v)
    # no matches at tiny r for spread-out data => nan (ZeroDivision path)
    assert math.isnan(counting_obj(np.arange(50.0), 1, 1e-12))


def test_bootstrap_obj_positive():
    rng_data = np.random.default_rng(3)
    x = rng_data.normal(size=120)
    v = bootstrap_obj(x, 1, 0.25, 0.5, 30, sequence_rng(7, "d"))
    assert v > 0


def test_efficiency_op_end_to_end(spark):
    rng = np.random.default_rng(17)
    rows = [
        Row(
            doc_id=f"s{i}",
            tokens=[float(v) for v in rng.normal(size=100)],
            n_tok=100,
            source="a",
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(rows)
    op = SampEnEfficiencyOp(df, m=1, r_range=(0.1, 0.5), random_seed=11)
    rstar = op.find_rstar()
    assert 0.1 <= rstar <= 0.5
    out = op.compute_all_sampen().collect()
    assert len(out) == 4
    for r in out:
        assert r["sampen"] > 0 and r["se_sampen"] > 0


class _FakeDF:  # minimal stand-in: the constructor never touches df
    pass


def test_efficiency_op_grid_matches_reference_shape():
    # grid construction parity with extras.py:35-42
    op = SampEnEfficiencyOp(_FakeDF(), m=1, r_range=(0.1, 0.5))
    np.testing.assert_allclose(op.rs, np.arange(0.1, 0.5 + 0.01, 0.05))
    np.testing.assert_allclose(op._pts, np.arange(0.1, 0.5 + 0.01, 0.01))


def test_efficiency_op_validates_objective():
    with pytest.raises(ValueError):
        SampEnEfficiencyOp(_FakeDF(), m=1, r_range=(0.1, 0.5), objective="zzz")


def test_release_leaves_no_cached_rdds(spark):
    """Full pipeline consumption + release() -> empty block manager
    (round-2 hygiene gap: the internal persists were never released)."""
    from pyspark.sql import functions as F

    from eristropy_spark.operators.stationarity import make_stationary
    from eristropy_spark.sources.tokens import synthesize_tokens

    from eristropy_spark.functions.arrays import znormed

    spark.catalog.clearCache()
    tokens = znormed(
        synthesize_tokens(spark, 40, seed=3, min_len=32, max_len=64), "tokens"
    )

    op = SampEnEfficiencyOp(tokens, m=1, r_range=(0.1, 0.5), r_step_size=0.1)
    out = op.compute_all_sampen()
    out.select(F.count("*")).collect()  # consume

    res = make_stationary(tokens, method="difference")
    res.df.select(F.count("*")).collect()  # consume
    _ = res.stationary_frac

    # delta-based: other tests in the session may hold localCheckpoint
    # blocks (released by GC, not clearCache), so assert THESE two ops'
    # caches appear and then disappear
    jsc = spark.sparkContext._jsc
    import gc

    gc.collect()
    live = jsc.getPersistentRDDs().size()
    assert live >= 2  # both internal caches among the live blocks

    op.release()
    res.release()
    assert jsc.getPersistentRDDs().size() == live - 2
    # results stay consumable (lineage recompute), release is idempotent
    assert out.count() > 0
    op.release()
    res.release()
