"""The shared per-signal Arrow boundary (functions/signals.py): every
operator built on ``map_signals`` over one edge-case frame, plus unit
tests of the list-column view split and the output conversion."""

import datetime as dt
import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from eristropy_spark.functions.codec import tokens_roundtrip_ok
from eristropy_spark.functions.efficiency import efficiency_grid
from eristropy_spark.functions.signals import _token_views, map_signals
from eristropy_spark.operators import acf, apen, bubble, changepoint, complexity
from eristropy_spark.operators import crossentropy, dtw, fractal, fuzzyen, hurst
from eristropy_spark.operators import lttb, matrixprofile, mse, robust, seqalign
from eristropy_spark.operators import spectral, wavelet
from eristropy_spark.operators.entropy import compute_entropy
from eristropy_spark.operators.extras import SampEnEfficiencyOp
from eristropy_spark.operators.rollup import entropy_points
from eristropy_spark.operators.stationarity import make_stationary
from eristropy_spark.operators.windowed import windowed_entropy
from eristropy_spark.plans.audit import plan_of

TS = dt.datetime(2024, 1, 1)
KEEP = ("doc_id", "first_ts")
PAIR_KEEP = ("key", "src_a", "src_b")


def _edge_rows():
    rng = np.random.default_rng(5)
    rows = [
        ("none", "u1", "s0", None),
        ("empty", "u1", "s1", []),
        ("one", "u1", "s2", [5]),
        ("two", "u2", "s0", [1, 2]),
        ("const", "u2", "s1", [7] * 20),
        ("alt", "u2", "s2", [(-1) ** i * 1_000_000 for i in range(24)]),
    ]
    for i, n in enumerate([3, 9, 17, 33, 40, 64, 13, 27]):
        toks = rng.integers(-40, 40, size=n).tolist()
        rows.append((f"r{i}", f"u{3 + i % 2}", f"s{i % 3}", toks))
    return [(d, u, s, TS, t) for d, u, s, t in rows]


ROWS = _edge_rows()
LEN = {r[0]: (0 if r[4] is None else len(r[4])) for r in ROWS}

# name -> (build, rows expected per signal of length n, or None for
# exactly one row per signal; "pairs" for the pair operators)
OPS = {
    "entropy_points": (lambda d: entropy_points(d), None),
    "compute_entropy_se": (
        lambda d: compute_entropy(
            d, keep_cols=KEEP[1:], estimate_uncertainty=True, n_boot=20
        ),
        None,
    ),
    "windowed_entropy": (
        lambda d: windowed_entropy(
            d, window=8, min_window=4, keep_cols=KEEP[1:]
        ),
        lambda n: (n - 4) // 8 + 1 if n >= 4 else 0,
    ),
    "make_stationary": (
        lambda d: make_stationary(
            d, method="difference", normalize=False, keep_all=True
        ).df,
        None,
    ),
    "tokens_roundtrip_ok": (
        lambda d: tokens_roundtrip_ok(d.withColumn("n_tok", F.size("tokens"))),
        None,
    ),
    "sampen_efficiency": (
        lambda d: SampEnEfficiencyOp(
            d, m=1, r_range=(1.0, 5.0), r_step_size=1.0,
            interpolation_step_size=0.5,
        ).compute_all_sampen(),
        None,
    ),
    "sampen_efficiency_bootstrap": (
        lambda d: SampEnEfficiencyOp(
            d, m=1, r_range=(1.0, 5.0), r_step_size=1.0,
            interpolation_step_size=0.5, objective="bootstrap", n_boot=20,
        ).compute_all_sampen(),
        None,
    ),
    "acf_long": (
        lambda d: acf.acf_long(d, max_lag=6, keep_cols=KEEP),
        lambda n: min(6, n - 1) if n >= 2 else 0,
    ),
    "ar2_forecast": (lambda d: acf.ar2_forecast(d, keep_cols=KEEP), None),
    "ljung_box": (lambda d: acf.ljung_box(d, max_lag=4, keep_cols=KEEP), None),
    "pacf_points": (lambda d: acf.pacf_points(d, keep_cols=KEEP), None),
    "bartels_rank": (lambda d: acf.bartels_rank(d, keep_cols=KEEP, min_n=3), None),
    "apen_points": (lambda d: apen.apen_points(d, keep_cols=KEEP), None),
    "bubble_points": (lambda d: bubble.bubble_points(d, keep_cols=KEEP), None),
    "pettitt": (lambda d: changepoint.pettitt(d, keep_cols=KEEP), None),
    "lz_complexity": (lambda d: complexity.lz_complexity(d, keep_cols=KEEP), None),
    "lz_entropy_rate": (
        lambda d: complexity.lz_entropy_rate(d, keep_cols=KEEP), None
    ),
    "cross_sampen_pairs": (lambda d: crossentropy.cross_sampen_pairs(d), "pairs"),
    "dtw_pairs": (lambda d: dtw.dtw_pairs(d, max_len=16), "pairs"),
    "higuchi_fd": (lambda d: fractal.higuchi_fd(d, kmax=3, keep_cols=KEEP), None),
    "dfa": (lambda d: fractal.dfa(d, sizes=(3, 4, 8), keep_cols=KEEP), None),
    "fuzzyen_points": (lambda d: fuzzyen.fuzzyen_points(d, keep_cols=KEEP), None),
    "hurst_points": (lambda d: hurst.hurst_points(d, keep_cols=KEEP), None),
    "lttb_downsample": (
        lambda d: lttb.lttb_downsample(d, n_out=5, keep_cols=KEEP),
        lambda n: min(n, 5),
    ),
    "matrix_profile": (
        lambda d: matrixprofile.matrix_profile(d, w=4, keep_cols=KEEP),
        lambda n: n - 3 if n >= 4 else 0,
    ),
    "multiscale_entropy": (
        lambda d: mse.multiscale_entropy(d, keep_cols=KEEP),
        lambda n: 3 if n else 0,
    ),
    "theilsen_trend": (lambda d: robust.theilsen_trend(d, keep_cols=KEEP), None),
    "mann_kendall": (lambda d: robust.mann_kendall(d, keep_cols=KEEP), None),
    "seasonal_mann_kendall": (
        lambda d: robust.seasonal_mann_kendall(d, period=3, keep_cols=KEEP), None
    ),
    "hampel_filter": (
        lambda d: robust.hampel_filter(d, half_width=2, keep_cols=KEEP),
        lambda n: n,
    ),
    "align_pairs": (lambda d: seqalign.align_pairs(d, max_len=16), "pairs"),
    "spectral_entropy_wht": (
        lambda d: spectral.spectral_entropy_wht(d, keep_cols=KEEP), None
    ),
    "wavelet_entropy": (lambda d: wavelet.wavelet_entropy(d, keep_cols=KEEP), None),
}


@pytest.fixture(scope="module")
def edge_df(spark):
    # cached and filled: Spark knows the size of a materialized cache (a
    # DataFrame over a Python list reads as unknown), so every operator
    # runs through map_signals' sized path, the Coalesce included
    df = spark.createDataFrame(
        ROWS,
        "doc_id string, user string, source string, first_ts timestamp, "
        "tokens array<int>",
    ).persist()
    df.count()
    yield df
    df.unpersist()


def _sorted(rows):
    return sorted(rows, key=repr)


@pytest.mark.parametrize("name", sorted(OPS))
def test_operator_on_edge_frame(spark, edge_df, name):
    build, per_signal = OPS[name]
    out = build(edge_df)
    rows = out.collect()

    # no NaN or inf reaches a double column: NaN is emitted as NULL
    doubles = [f.name for f in out.schema.fields if isinstance(f.dataType, DoubleType)]
    for r in rows:
        for c in doubles:
            assert r[c] is None or math.isfinite(r[c]), (c, r)

    # keep columns pass through unchanged, with the declared multiplicity
    if per_signal == "pairs":
        want = sorted(
            (a[1], a[2], b[2]) for a in ROWS for b in ROWS
            if a[1] == b[1] and a[2] < b[2]
        )
        assert sorted(tuple(r[c] for c in PAIR_KEEP) for r in rows) == want
    else:
        ts_col = next((c for c in ("ts", "first_ts") if c in out.columns), None)
        no_ts = (
            "sampen_efficiency", "sampen_efficiency_bootstrap", "tokens_roundtrip_ok"
        )
        assert ts_col is not None or name in no_ts
        assert all(r[ts_col] == TS for r in rows if ts_col)
        got: dict[str, int] = {}
        for r in rows:
            got[r["doc_id"]] = got.get(r["doc_id"], 0) + 1
        count = per_signal or (lambda n: 1)
        want = {d: count(n) for d, n in LEN.items() if count(n)}
        assert got == want

    # partition invariance
    for parts in (1, 7):
        again = build(edge_df.repartition(parts)).collect()
        assert _sorted(again) == _sorted(rows), parts


def test_edge_frame_takes_the_sized_path(edge_df):
    assert "Coalesce" in plan_of(entropy_points(edge_df))


def test_token_views_on_sliced_offset_list_array():
    full = pa.array(
        [[1, 2], None, [], [3, 4, 5], None, [6]], type=pa.list_(pa.int32())
    )
    sliced = full.slice(1, 4)  # None, [], [3, 4, 5], None
    views = _token_views(sliced)
    assert len(views) == 4
    assert views[0] is None and views[3] is None
    assert views[1].size == 0
    assert views[2].tolist() == [3, 4, 5]
    assert views[2].dtype == np.int32  # native dtype, no float64 image
    assert np.shares_memory(views[2], full.values.to_numpy())  # zero-copy

    chunked = pa.chunked_array(
        [sliced, pa.array([[0], None], type=pa.list_(pa.int32()))]
    )
    views = _token_views(chunked)
    assert len(views) == 6
    assert views[4].tolist() == [0] and views[5] is None


def test_map_signals_output_types_and_null_policy(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", None), ("c", [])], "doc_id string, tokens array<int>"
    )

    def _stats(v):
        n = 0 if v is None else int(v.size)
        mean = float(v.mean()) if n else float("nan")
        return n, n * 10**10, n > 1, mean

    out = map_signals(
        df, ("doc_id",), "tokens", "n int, big bigint, many boolean, mean double",
        _stats,
    )
    assert out.columns == ["doc_id", "n", "big", "many", "mean"]
    got = {r.doc_id: tuple(r)[1:] for r in out.collect()}
    assert got == {
        "a": (3, 3 * 10**10, True, 2.0),
        "b": (0, 0, False, None),  # NaN -> NULL
        "c": (0, 0, False, None),
    }

    def _prefix(v):
        return [] if v is None else [(i, int(x)) for i, x in enumerate(v[:2])]

    long = map_signals(
        df.repartition(2), ("doc_id",), "tokens", "i int, x bigint", _prefix,
        explode=True,
    )
    assert sorted(map(tuple, long.collect())) == [("a", 0, 1), ("a", 1, 2)]


def test_bootstrap_objective_on_whole_edge_frame(spark, edge_df):
    """The bootstrap r-grid objective runs over every edge row: SampEn 0
    (the constant and +-1e6 rows) gives NaN, not ZeroDivisionError, and
    the per-r medians equal the in-process objectives'."""
    op = SampEnEfficiencyOp(
        edge_df, m=1, r_range=(1.0, 5.0), r_step_size=1.0,
        interpolation_step_size=0.5, objective="bootstrap", n_boot=20,
    )
    rs = [float(r) for r in op.rs]
    grids = {
        d: efficiency_grid(t, d, rs, 1, True, op.p, op.n_boot, op.random_seed)
        for d, _, _, _, t in ROWS
    }
    assert all(math.isnan(v) for d in ("const", "alt") for v in grids[d])
    want = np.nanmedian(np.array(list(grids.values())), axis=0)
    got = op._objective_by_r()
    np.testing.assert_allclose(got, want, rtol=1e-12)
    assert math.isfinite(op.find_rstar())


def _token_table(spark, n, parts):
    from eristropy_spark.sources.tokens import synthesize_tokens

    return synthesize_tokens(spark, n, seed=3, min_len=8, max_len=40, partitions=parts)


def _n_and_sum(df):
    def _f(v):
        return (0, 0) if v is None else (int(v.size), int(v.sum()))

    return map_signals(df, ("doc_id",), "tokens", "n int, s bigint", _f)


def test_map_signals_coalesces_to_cores(spark):
    """A small 16-partition table leaves map_signals in defaultParallelism
    partitions, with the rows of the one-partition input."""
    df = _token_table(spark, 200, 16)
    assert df.rdd.getNumPartitions() == 16
    out = _n_and_sum(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    one = _n_and_sum(df.coalesce(1))
    assert _sorted(out.collect()) == _sorted(one.collect())
    assert len(out.collect()) == 200


def test_map_signals_keeps_bytes_over_split_partitions(spark):
    """With maxPartitionBytes lowered, a table is not coalesced below
    ceil(estimated bytes / split)."""
    df = _token_table(spark, 400, 16)
    plan = df.select("doc_id", "tokens")._jdf.queryExecution().optimizedPlan()
    size = int(plan.stats().sizeInBytes())
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(-(-size // 9)))
        out = _n_and_sum(df)
        assert out.rdd.getNumPartitions() == 9
        spark.conf.set(key, str(size * 2))
        out = _n_and_sum(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set(key, old)


def test_compute_entropy_without_permen(spark, edge_df):
    """permen_m=None drops the PermEn column (and its kernel) and leaves
    the other columns' rows as they are."""
    full = compute_entropy(edge_df, keep_cols=KEEP[1:])
    bare = compute_entropy(edge_df, keep_cols=KEEP[1:], permen_m=None)
    assert bare.columns == ["doc_id", "first_ts", "sampen"]
    assert _sorted(bare.collect()) == _sorted(full.drop("permen").collect())


def test_map_signals_builds_over_a_streaming_input(spark):
    """A streaming input has no batch plan statistics: it is not sized,
    and the projection still builds."""
    stream = spark.readStream.format("rate").load().select(
        F.col("value").cast("string").alias("doc_id"),
        F.array(F.col("value").cast("int")).alias("tokens"),
    )
    assert _n_and_sum(stream).isStreaming
