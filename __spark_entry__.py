"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check (sf0.001).
``queries()`` / ``oracle_sql()`` — operator inventory checked against a
DuckDB oracle at sf0.01 (row count + schema + order-insensitive value
hash).  Column names/aliases are identical on both sides; computed
doubles are rounded to 6 dp on both sides so the value hash is stable
across independently-derived float pipelines.

Coverage map (SURVEY.md §2 + training-data-pipeline ops):
  tokenize          S1/S5/O1/O2  token-table construction (checksummed)
  difference        W1           per-signal lag difference
  detrend_linreg    W2           closed-form OLS residuals
  znorm             W12          per-signal z-normalization (ddof=1)
  rollup_minute     north rule   1-min tier
  rollup_hour_cascade north rule hour tier THROUGH the cascade vs direct SQL
  gapfill_locf      north rule   dense grid + LOCF
  gapfill_linear    north rule   dense grid + linear interpolation
  gorilla_roundtrip north rule   codec round-trip invariant
  sampen_permen     E1/E16       entropy per sequence (full SQL replay)
  sampen_eff        E8-E15       Lake r* selection + (sampen, se) (rows-only)
  stationarity      W13/W14/X5   ADF + Holm-Sidak survivors (rows-only)
  windowed_entropy  scale path   windowed entropy (full SQL replay)
  dedup_exact       pipeline     exact text dedup
  text_stats        pipeline     token counting / ratios
  quality_score     pipeline     quality heuristic
  lang_id           pipeline     marker-word language ID
  ngram_jaccard     pipeline     exact near-dup pairs
  minhash_lsh       pipeline     MinHash-LSH near-dup (full SQL replay)
  simhash           pipeline     SimHash near-dup (full SQL replay)
  similarity_topk   pipeline     brute-force cosine top-k
  similarity_lsh    pipeline     hyperplane-LSH ANN (full SQL replay)
  similarity_ivf    pipeline     IVF coarse-quantizer ANN (rows-only)
  embed_dedup_exact pipeline     embedding-cosine near-dup, exact all-pairs
  embed_dedup_lsh   pipeline     embedding-cosine near-dup, LSH scale path
  multimodal_features pipeline   binary decode plumbing + auto-fallback (rows-only)
  multimodal_real   pipeline     REAL WAV/Y4M decode vs closed-form SQL geometry
  decontaminate     pipeline     13-gram benchmark decontamination (GPT-3 App. C)
  scrub_pii         pipeline     typed PII redaction + counts (Dolma 4.1)
  pack_sequences    pipeline     concat-and-split training-window packing manifest
  mix_corpus        pipeline     deterministic per-source up/down-sampling mix
  build_vocab       pipeline     global top-k token vocabulary (two-phase count)
  unigram_logprob   pipeline     CCNet-style LM-quality proxy (smoothed unigram)
  shuffle_corpus    pipeline     deterministic global training-order shuffle
  fingerprint_winnow pipeline    winnowing fingerprints (SIGMOD'03, rightmost-min)
  fingerprint_overlap pipeline   winnow-sketch overlap pairs (the MOSS detector)
  duplicate_spans   pipeline     exact duplicated-substring spans (gram islands)
  tpch_q1 / tpch_q3 / semi_join  relational shell (Catalyst-native)
  asof_join         timeseries   backward as-of join (union+window plan
                                 vs DuckDB's NATIVE ASOF JOIN oracle)
  sessionize        timeseries   gap-based sessionization
  rolling_stats     timeseries   trailing time-range window stats + z-score
  counter_rate      timeseries   reset-aware counter increase + per-second rate
  sax_symbols       timeseries   PAA + SAX symbolization (Lin & Keogh 2003)
  ewma              timeseries   running EWMA recursion (grouped Pandas scan)
  ohlc_rollup       timeseries   open/high/low/close bucket downsample
  histogram_rollup  timeseries   fixed-bin value histogram (long form)
  acf               timeseries   per-signal autocorrelation (lags 1..10)
  cusum             timeseries   two-sided CUSUM change-point chart (Page 1954)
  seasonal_decompose timeseries  classical additive trend/seasonal/remainder
  anomaly_episodes  timeseries   rolling-z excursions merged gaps-and-islands
  crosscorr         timeseries   lagged cross-correlation between signals
  dominant_period   timeseries   epoch-folding period scan (PDM, no trig)
  bm25_topk         pipeline     Okapi BM25 ranked retrieval (Lucene idf)
  wasserstein_drift timeseries   exact 1-D earth-mover drift (full replay)
  robust_scale      timeseries   median/MAD/robust-sigma outlier census
  lexical_richness  pipeline     TTR / hapax / Yule's K per document
  vocab_coverage    pipeline     Good-Turing missing mass + Chao1 floor
  token_novelty     pipeline     corpus-first-word freshness per doc
  stl_strength      timeseries   trend/seasonal strength (Wang-Smith-Hyndman)
  heaps_law         pipeline     vocabulary-growth exponent fit (Heaps 1978)
  fuzzyen           E-family     Fuzzy Entropy (Chen 2007, full SQL replay)
  pacf              timeseries   partial autocorrelation (Durbin-Levinson)
  ccnet_buckets     pipeline     per-source head/middle/tail quality terciles
  cvm_drift         timeseries   Cramér-von Mises squared-CDF-gap drift
  cvar_tail         timeseries   VaR/CVaR expected shortfall + mean excess
  gini_balance      pipeline     doc-size inequality per source (exact Gini)
  wavelet_entropy   timeseries   Haar octave energies + wavelet entropy
  spectral_entropy  timeseries   Walsh-Hadamard power-spectrum entropy
  hampel            timeseries   rolling median/MAD despike filter
  gpd_tail          timeseries   GPD peaks-over-threshold PWM tail fit
  bubble_entropy    E-family     rank-based swap entropy (Manis 2017)
  quantile_drift    timeseries   per-quantile shift vector (QQ monitoring)
  seasonal_mk       timeseries   phase-stratified Mann-Kendall (Hirsch-Slack)
  expanding_zscore  timeseries   lifetime z-score (streaming-twin exact sums)
  normality         timeseries   Jarque-Bera + Grubbs diagnostics
  categorical_drift timeseries   JS divergence of the category mix
  dtw_distance      timeseries   banded-DTW pair distance (exact int64,
                                 unrolled window-CTE SQL replay)
  seq_align         pipeline     token edit distance + LCS pair similarity
                                 (dual unrolled dp SQL replay)
  forecast_eval     timeseries   naive/mean/drift backtest + MASE skill
                                 (Hyndman-Koehler 2006, exact DECIMAL sums)
  binseg            timeseries   depth-2 binary-segmentation changepoints
                                 (exact prefix-sum gains, mirrored argmax)
  tfidf_topk        pipeline     top-k TF-IDF terms per doc
  md5_sample        pipeline     deterministic partition-invariant sample
  irreversibility   timeseries   Porta/Guzik time-reversal asymmetry
  hjorth            timeseries   Hjorth activity/mobility/complexity
  katz_fd           timeseries   Katz waveform fractal dimension
  multiscale_entropy E-family    Costa 2002 MSE curve (full SQL replay)
  ts_features       timeseries   tsfresh-style exact feature battery
  page_hinkley      timeseries   Page-Hinkley running-mean drift alarm
  mutual_info       timeseries   symbolic Shannon MI between sources
  transfer_entropy  timeseries   Schreiber TE(X->Y), binary symbols
  holt_winters      timeseries   additive triple smoothing (list-state
                                 recursive-CTE replay)
  croston           timeseries   Croston/SBA intermittent-demand rate
                                 (zero-run intervals, recursive CTE)
  dcca              timeseries   detrended cross-correlation rho_DCCA
  count_dispersion  timeseries   Fano factor + Allan variance (zero-run
                                 algebra, no dense explode)
  tail_dependence   timeseries   upper-tail co-exceedance lift/jaccard
  poincare          timeseries   Poincaré SD1/SD2 ellipse geometry
  ordinal_census    timeseries   order-3 ordinal patterns + forbidden
                                 count + m=3 permutation entropy
  rqa               timeseries   recurrence rate + determinism (exact
                                 integer pair counts, range//5 radius)
  arch_lm           timeseries   Engle ARCH LM volatility clustering
                                 (DECIMAL/HUGEINT exact moments)
  record_stats      timeseries   upper/lower record counts vs iid H_n
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the engine importable regardless of the harness's cwd/sys.path
_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

# applicationIds already shipped the zip — keyed per SparkContext, not a
# process-global bool, so a later different context in the same process
# still gets its addPyFile call
_PYFILES_SENT: set[str] = set()


def _pyfiles_zip(repo: str) -> str:
    """Path of the worker zip of ``repo``'s ``eristropy_spark`` sources,
    built if it does not exist yet.

    The name carries a digest of every shipped file's path and bytes:
    ``addPyFile`` puts the zip ahead of ``PYTHONPATH`` on the workers,
    so two checkouts (or two states of one) must never share a zip.
    Per-user name under the platform tmpdir: a stale world-shared /tmp
    file owned by another user would make ``os.replace`` fail.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_root = os.path.join(repo, "eristropy_spark")
    srcs = sorted(
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(pkg_root)
        for f in files
        if f.endswith(".py")
    )
    digest = hashlib.sha256()
    for full in srcs:
        digest.update(os.path.relpath(full, repo).encode() + b"\0")
        with open(full, "rb") as fh:
            digest.update(fh.read() + b"\0")
    uid = os.getuid() if hasattr(os, "getuid") else 0
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"eristropy_spark_pyfiles_{uid}_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in srcs:
                zf.write(full, os.path.relpath(full, repo))
        os.replace(tmp, zip_path)
    return zip_path


def _ensure_pkg_on_executors(spark) -> None:
    """Ship the package to executor Python workers (the programmatic
    form of ``spark-submit --py-files``).

    The driver's ``sys.path`` patch above does not reach executor
    Python workers — with a harness whose cwd is elsewhere, the first
    UDF would die with ModuleNotFoundError.  A zip of the package added
    via ``addPyFile`` lands on every worker's import path, for local
    AND real cluster masters alike.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _PYFILES_SENT:
        return
    zip_path = _pyfiles_zip(_REPO)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already added in this context
        pass
    # dead applicationIds never repeat, so cap the memo instead of
    # growing one entry per session for the life of the process
    if len(_PYFILES_SENT) > 64:
        _PYFILES_SENT.clear()
    _PYFILES_SENT.add(app_id)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eristropy_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from eristropy_spark.operators.entropy import compute_entropy
from eristropy_spark.operators.gapfill import gapfill_locf
from eristropy_spark.operators.multimodal import documents_to_assets, extract_features
from eristropy_spark.operators.rollup import rollup_tier
from eristropy_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from eristropy_spark.operators.stationarity import make_stationary
from eristropy_spark.operators.text import lang_id, quality_score, text_stats
from eristropy_spark.sources.catalog import read_parquet
from eristropy_spark.sources.tokens import events_to_tokens



def _r6(c):
    """Engine-portable 6-dp rounding: floor(x*1e6 + 0.5)/1e6.

    Spark's round() is decimal-exact HALF_UP while DuckDB's rounds in
    float space — they disagree on decimal-half boundaries, which makes
    value-hash comparisons flaky.  Using the identical float expression
    on both sides makes the rounding bit-deterministic across engines.

    NaN/NULL pass through (Spark's floor(double) is BIGINT-valued and
    maps NaN to 0; DuckDB's floor(NaN) stays NaN — the guard aligns them).
    """
    if isinstance(c, str):
        c = F.col(c)
    d = c.cast("double")
    return F.when(F.isnan(d) | d.isNull(), d).otherwise(
        F.floor(d * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )


def _nan_avg(col: str):
    """avg skipping NaN (Spark's avg skips NULL but propagates NaN)."""
    c = F.col(col)
    return F.avg(F.when(~F.isnan(c), c))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize events → z-norm → SampEn+PermEn → per-source rollup."""
    tokens = events_to_tokens(_utc(spark), "/root/testdata/sf0.001")
    ent = compute_entropy(tokens, m=1, r=0.2, normalize=True)
    return (
        ent.groupBy("source")
        .agg(
            F.count("*").alias("n_seq"),
            _r6(_nan_avg("sampen")).alias("avg_sampen"),
            _r6(_nan_avg("permen")).alias("avg_permen"),
        )
        .orderBy("source")
    )


def _utc(spark):
    """Pin session semantics the driver's own SparkSession may not share:
    UTC (date_trunc is session-TZ-dependent while the DuckDB oracle
    truncates naive timestamps) and non-ANSI mode (double/0 → NULL like
    DuckDB 1.0, instead of DIVIDE_BY_ZERO on degenerate groups); also
    ships the package zip to executor workers (--py-files equivalent)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    _ensure_pkg_on_executors(spark)
    return spark


def _events(spark, sf_dir):
    return read_parquet(_utc(spark), f"{sf_dir}/events.parquet")


def _docs(spark, sf_dir):
    return read_parquet(_utc(spark), f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------- tokens


def _q_tokenize(spark, sf_dir):
    t = events_to_tokens(_utc(spark), sf_dir)
    return t.select(
        "doc_id",
        "source",
        "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "tok_sum"
        ),
        F.element_at("tokens", 1).cast("long").alias("tok_first"),
        F.element_at("tokens", -1).cast("long").alias("tok_last"),
    )


_ORACLE_TOKENIZE = """
SELECT user_id || ':' || event_type AS doc_id,
       event_type AS source,
       CAST(count(*) AS INT) AS n_tok,
       CAST(sum(CAST(round(value * 100) AS INT)) AS BIGINT) AS tok_sum,
       CAST(first(CAST(round(value * 100) AS INT) ORDER BY ts, event_id) AS BIGINT) AS tok_first,
       CAST(last(CAST(round(value * 100) AS INT) ORDER BY ts, event_id) AS BIGINT) AS tok_last
FROM events
GROUP BY user_id, event_type
"""


def _q_difference(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev", F.lag("value").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.concat_ws(":", "user_id", "event_type").alias("doc_id"),
            F.col("event_id").cast("long").alias("event_id"),
            _r6(F.col("value") - F.col("prev")).alias("dvalue"),
        )
    )


_ORACLE_DIFFERENCE = """
SELECT user_id || ':' || event_type AS doc_id,
       event_id,
       floor((value - prev) * 1000000 + 0.5) / 1000000 AS dvalue
FROM (
  SELECT user_id, event_type, event_id, value,
         lag(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
  FROM events
)
WHERE prev IS NOT NULL
"""


def _q_detrend_linreg(spark, sf_dir):
    """W2 closed form: residual = y - (b0 + b1*t), b1 = cov_pop/var_pop on
    the per-signal positional index."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    sig = Window.partitionBy("user_id", "event_type")
    pos = (F.row_number().over(w) - 1).cast("double")
    d = ev.select(
        F.concat_ws(":", "user_id", "event_type").alias("doc_id"),
        F.col("event_id").cast("long").alias("event_id"),
        pos.alias("pos"),
        F.col("value"),
    )
    sigw = Window.partitionBy("doc_id")
    b1 = F.covar_pop("pos", "value").over(sigw) / F.var_pop("pos").over(sigw)
    b0 = F.avg("value").over(sigw) - b1 * F.avg("pos").over(sigw)
    return d.select(
        "doc_id",
        "event_id",
        _r6(F.col("value") - (b0 + b1 * F.col("pos"))).alias("residual"),
    )


_ORACLE_DETREND = """
WITH d AS (
  SELECT user_id || ':' || event_type AS doc_id,
         event_id,
         CAST(row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) - 1 AS DOUBLE) AS pos,
         value
  FROM events
), s AS (
  SELECT doc_id, event_id, pos, value,
         covar_pop(pos, value) OVER (PARTITION BY doc_id) / var_pop(pos) OVER (PARTITION BY doc_id) AS b1,
         avg(value) OVER (PARTITION BY doc_id) AS vbar,
         avg(pos) OVER (PARTITION BY doc_id) AS pbar
  FROM d
)
SELECT doc_id, event_id, floor((value - ((vbar - b1 * pbar) + b1 * pos)) * 1000000 + 0.5) / 1000000 AS residual
FROM s
"""


def _q_znorm(spark, sf_dir):
    """W12: per-signal z-normalization, ddof=1 (stddev_samp)."""
    ev = _events(spark, sf_dir)
    sigw = Window.partitionBy("user_id", "event_type")
    z = (F.col("value") - F.avg("value").over(sigw)) / F.stddev_samp("value").over(sigw)
    return ev.select(
        F.concat_ws(":", "user_id", "event_type").alias("doc_id"),
        F.col("event_id").cast("long").alias("event_id"),
        _r6(z).alias("zvalue"),
    )


_ORACLE_ZNORM = """
SELECT user_id || ':' || event_type AS doc_id,
       event_id,
       floor(((value - avg(value) OVER w) / stddev_samp(value) OVER w) * 1000000 + 0.5) / 1000000 AS zvalue
FROM events
WINDOW w AS (PARTITION BY user_id, event_type)
"""


# ---------------------------------------------------------------- rollups


def _q_rollup_minute(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.col("event_type").alias("source"),
            F.date_trunc("minute", "ts").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            _r6(F.sum("value")).alias("sum_value"),
            _r6(F.min("value")).alias("min_value"),
            _r6(F.max("value")).alias("max_value"),
        )
    )


_ORACLE_ROLLUP_MINUTE = """
SELECT event_type AS source,
       date_trunc('minute', ts) AS bucket,
       count(*) AS n,
       floor((sum(value)) * 1000000 + 0.5) / 1000000 AS sum_value,
       floor((min(value)) * 1000000 + 0.5) / 1000000 AS min_value,
       floor((max(value)) * 1000000 + 0.5) / 1000000 AS max_value
FROM events
GROUP BY 1, 2
"""


def _q_rollup_hour_cascade(spark, sf_dir):
    """Hour tier computed THROUGH the cascade (minute tier merged up);
    the oracle aggregates straight from raw — this checks the
    decomposable-merge law on real data."""
    ev = _events(spark, sf_dir)
    minute = (
        ev.groupBy(
            F.col("event_type").alias("source"),
            F.date_trunc("minute", "ts").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        minute.groupBy(
            "source", F.date_trunc("hour", "bucket").alias("bucket")
        )
        .agg(
            F.sum("n").alias("n"),
            _r6(F.sum("sum_value")).alias("sum_value"),
            _r6(F.min("min_value")).alias("min_value"),
            _r6(F.max("max_value")).alias("max_value"),
        )
    )


_ORACLE_ROLLUP_HOUR = """
SELECT event_type AS source,
       date_trunc('hour', ts) AS bucket,
       count(*) AS n,
       floor((sum(value)) * 1000000 + 0.5) / 1000000 AS sum_value,
       floor((min(value)) * 1000000 + 0.5) / 1000000 AS min_value,
       floor((max(value)) * 1000000 + 0.5) / 1000000 AS max_value
FROM events
GROUP BY 1, 2
"""


def _q_gapfill_locf(spark, sf_dir):
    """Dense 1-min grid per source, LOCF-filled avg value."""
    ev = _events(spark, sf_dir)
    minute = ev.groupBy(
        F.col("event_type").alias("source"),
        F.date_trunc("minute", "ts").alias("bucket"),
    ).agg(F.avg("value").alias("avg_value"))
    filled = gapfill_locf(minute, "1 minute", ("avg_value",))
    return filled.select(
        "source", "bucket", _r6("avg_value").alias("avg_value")
    )


# LOCF in portable SQL: count(real) over preceding window groups each gap
# run with its anchor; max(value) within the (source, group) fills it.
_ORACLE_GAPFILL_LOCF = """
WITH minute AS (
  SELECT event_type AS source, date_trunc('minute', ts) AS bucket,
         avg(value) AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT source, min(bucket) AS lo, max(bucket) AS hi FROM minute GROUP BY 1
), grid AS (
  SELECT source, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket
  FROM bounds
), joined AS (
  SELECT g.source, g.bucket, m.avg_value,
         count(m.avg_value) OVER (PARTITION BY g.source ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM grid g LEFT JOIN minute m USING (source, bucket)
)
SELECT source, bucket,
       floor((max(avg_value) OVER (PARTITION BY source, grp)) * 1000000 + 0.5) / 1000000 AS avg_value
FROM joined
"""


def _q_gapfill_linear(spark, sf_dir):
    """Linear-interp gap-fill on the 1-min avg-value rollup."""
    from eristropy_spark.operators.gapfill import gapfill_linear

    ev = _events(spark, sf_dir)
    minute = ev.groupBy(
        F.col("event_type").alias("source"),
        F.date_trunc("minute", "ts").alias("bucket"),
    ).agg(F.avg("value").alias("avg_value"))
    filled = gapfill_linear(minute, "1 minute", ("avg_value",))
    return filled.select("source", "bucket", _r6("avg_value").alias("avg_value"))


# linear interpolation in portable SQL: group-id tricks give each grid row
# its previous and next real anchors (value + epoch), then interpolate by
# the time fraction; one-sided gaps degrade to nearest-anchor (LOCF/NOCB)
_ORACLE_GAPFILL_LINEAR = """
WITH minute AS (
  SELECT event_type AS source, date_trunc('minute', ts) AS bucket,
         avg(value) AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT source, min(bucket) AS lo, max(bucket) AS hi FROM minute GROUP BY 1
), grid AS (
  SELECT source, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket
  FROM bounds
), joined AS (
  SELECT g.source, g.bucket, m.avg_value,
         epoch(g.bucket) AS t,
         count(m.avg_value) OVER (PARTITION BY g.source ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bgrp,
         count(m.avg_value) OVER (PARTITION BY g.source ORDER BY g.bucket
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fgrp
  FROM grid g LEFT JOIN minute m USING (source, bucket)
), anch AS (
  SELECT source, bucket, avg_value, t,
         max(avg_value) OVER (PARTITION BY source, bgrp) AS prev_v,
         max(CASE WHEN avg_value IS NOT NULL THEN t END)
             OVER (PARTITION BY source, bgrp) AS prev_t,
         max(avg_value) OVER (PARTITION BY source, fgrp) AS next_v,
         max(CASE WHEN avg_value IS NOT NULL THEN t END)
             OVER (PARTITION BY source, fgrp) AS next_t
  FROM joined
)
SELECT source, bucket,
       floor((CASE
         WHEN avg_value IS NOT NULL THEN avg_value
         WHEN prev_t IS NULL THEN next_v
         WHEN next_t IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v) * ((t - prev_t) / (next_t - prev_t))
       END) * 1000000 + 0.5) / 1000000 AS avg_value
FROM anch
"""


def _q_sampen_eff(spark, sf_dir):
    """E8-E15: Lake-et-al. r* selection + per-sequence (sampen, se) at r*
    (rows-only: the counting CP estimator is not SQL-expressible;
    numeric behavior is pinned in tests/test_extras.py)."""
    from eristropy_spark.operators.extras import SampEnEfficiencyOp

    tokens = events_to_tokens(_utc(spark), sf_dir)
    # normalize so the r grid is on the conventional z-scale
    from eristropy_spark.functions.arrays import znormed

    tokens = znormed(tokens, "tokens")
    op = SampEnEfficiencyOp(tokens, m=1, r_range=(0.1, 0.5), random_seed=17)
    out = op.compute_all_sampen()
    return out.select(
        "doc_id", _r6("sampen").alias("sampen"), _r6("se_sampen").alias("se_sampen")
    )


def _q_gorilla_roundtrip(spark, sf_dir):
    """Codec invariant: encode(tokens) → decode == identity, per sequence.
    The oracle asserts the trivially-true expectation; a codec bug makes
    ``ok`` false and the value-hash mismatch."""
    from eristropy_spark.functions.codec import tokens_roundtrip_ok

    return tokens_roundtrip_ok(events_to_tokens(_utc(spark), sf_dir))


_ORACLE_GORILLA = """
SELECT user_id || ':' || event_type AS doc_id,
       CAST(count(*) AS INT) AS n_tok,
       true AS ok
FROM events GROUP BY user_id, event_type
"""


# ------------------------------------------------------------- entropy


def _q_sampen(spark, sf_dir):
    tokens = events_to_tokens(_utc(spark), sf_dir)
    ent = compute_entropy(tokens, m=1, r=0.2, normalize=True)
    return ent.select(
        "doc_id",
        "source",
        _r6("sampen").alias("sampen"),
        _r6("permen").alias("permen"),
    )


def _q_stationarity(spark, sf_dir):
    tokens = events_to_tokens(_utc(spark), sf_dir)
    res = make_stationary(tokens, method="difference", normalize=True, keep_all=True)
    return res.df.select(
        "doc_id", _r6("pvalue").alias("pvalue"), "is_stationary"
    )


def _q_windowed_entropy(spark, sf_dir):
    """Bounded-compute entropy for long sequences: fixed windows sliced
    JVM-side, one entropy point per (doc, window), each stamped with its
    REAL time (first_ts + window_id·stride·dt) so long signals spread
    across retention buckets (rows-only; window slicing + kernel parity
    + multi-bucket tier parity pinned in tests/test_windowed.py)."""
    from eristropy_spark.operators.windowed import windowed_entropy

    tokens = events_to_tokens(_utc(spark), sf_dir)
    out = windowed_entropy(
        tokens, window=8, stride=8, min_window=4, m=1, r=0.2,
        ts_col="first_ts", dt=1.0,
    )
    return out.select(
        "doc_id",
        "window_id",
        "ts",
        "n_tok",
        "source",
        _r6("sampen").alias("sampen"),
        _r6("permen").alias("permen"),
    )


# Full DuckDB replays of the entropy kernels (round 5).  SampEn at the
# contract config (m=1, r=0.2, normalize=True) is a pair count over the
# z-normalized sequence — B = #{p<q<=n-1 : |z_p-z_q| < r} (template
# order 1, excluding matches whose right endpoint is the final sample,
# kernels/sampen.py:57-63), A = same pairs with the following component
# also within r (order 2) — and SampEn = -ln(A/B), NULL when A = 0.
# PermEn (m=3, delay=1, /ln 6) is the Shannon entropy of stable-ordinal
# pattern codes: rank_i = #{j : x_j < x_i} + #{j < i : x_j = x_i},
# code = r0 + 3*r1 + 9*r2 (kernels/permen.py:28-49), over RAW tokens
# (ordinal patterns are z-norm invariant).  ORDER BY code in the
# entropy fold matches the kernel's np.unique-sorted sequential sum.
# O(n^2) self-join per sequence — oracle-scale only (n~13 at sf0.01);
# the engine's run-length sweep is the scale path.
_PATTERN_CODE = """
           (CASE WHEN tok1 < tok  THEN 1 ELSE 0 END
          + CASE WHEN tok2 < tok  THEN 1 ELSE 0 END)
       + 3*(CASE WHEN tok  < tok1 THEN 1 ELSE 0 END
          + CASE WHEN tok2 < tok1 THEN 1 ELSE 0 END
          + CASE WHEN tok  = tok1 THEN 1 ELSE 0 END)
       + 9*(CASE WHEN tok  < tok2 THEN 1 ELSE 0 END
          + CASE WHEN tok1 < tok2 THEN 1 ELSE 0 END
          + CASE WHEN tok  = tok2 THEN 1 ELSE 0 END
          + CASE WHEN tok1 = tok2 THEN 1 ELSE 0 END)
"""

_ORACLE_SAMPEN_PERMEN = f"""
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         event_type AS source,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
z AS (
  SELECT doc_id, source, i, n, tok,
         (tok - avg(tok) OVER d) / nullif(stddev_samp(tok) OVER d, 0) AS zv,
         lead(tok) OVER s AS tok1,
         lead(tok, 2) OVER s AS tok2
  FROM seq
  WINDOW d AS (PARTITION BY doc_id),
         s AS (PARTITION BY doc_id ORDER BY i)
),
z2 AS (
  SELECT *, lead(zv) OVER (PARTITION BY doc_id ORDER BY i) AS zv1 FROM z
),
pairs AS (
  SELECT a.doc_id,
         count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2) AS b_cnt,
         count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2
                            AND abs(a.zv1 - b.zv1) < 0.2) AS a_cnt
  FROM z2 a JOIN z2 b
    ON a.doc_id = b.doc_id AND a.i < b.i AND b.i <= a.n - 1
  GROUP BY a.doc_id
),
codes AS (
  SELECT doc_id, n - 2 AS nw, {_PATTERN_CODE} AS code
  FROM z WHERE i <= n - 2
),
perm AS (
  SELECT doc_id,
         -sum((cnt / nw) * ln(cnt / nw) ORDER BY code) / ln(6) AS permen_raw
  FROM (
    SELECT doc_id, code, CAST(count(*) AS DOUBLE) AS cnt,
           CAST(max(nw) AS DOUBLE) AS nw
    FROM codes GROUP BY doc_id, code
  ) GROUP BY doc_id
),
docs AS (SELECT doc_id, any_value(source) AS source FROM seq GROUP BY doc_id)
SELECT d.doc_id, d.source,
       CASE WHEN p.a_cnt > 0
            THEN floor(-ln(CAST(p.a_cnt AS DOUBLE) / p.b_cnt) * 1000000 + 0.5)
                 / 1000000
            ELSE NULL END AS sampen,
       floor(pe.permen_raw * 1000000 + 0.5) / 1000000 AS permen
FROM docs d
LEFT JOIN pairs p USING (doc_id)
LEFT JOIN perm pe USING (doc_id)
"""

# Same kernels per fixed window (window=8, stride=8, min_window=4,
# operators/windowed.py:74-92): window w of a length-n sequence keeps
# size >= 4 iff w < floor((n-4)/8)+1, which is exactly the per-window
# HAVING count >= 4 filter; each window z-norms independently and its
# point is stamped ts = first_ts + 8*w seconds (windowed.py:110-115).
_ORACLE_WINDOWED_ENTROPY = f"""
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         event_type AS source,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER w AS i,
         min(ts) OVER (PARTITION BY user_id, event_type) AS first_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
win AS (
  SELECT doc_id, source, first_ts,
         CAST(floor((i - 1) / 8) AS INT) AS window_id,
         ((i - 1) % 8) + 1 AS j,
         tok,
         count(*) OVER (PARTITION BY doc_id, floor((i - 1) / 8)) AS wn
  FROM seq
),
wf AS (SELECT * FROM win WHERE wn >= 4),
z AS (
  SELECT doc_id, source, first_ts, window_id, j, wn, tok,
         (tok - avg(tok) OVER d) / nullif(stddev_samp(tok) OVER d, 0) AS zv,
         lead(tok) OVER s AS tok1,
         lead(tok, 2) OVER s AS tok2
  FROM wf
  WINDOW d AS (PARTITION BY doc_id, window_id),
         s AS (PARTITION BY doc_id, window_id ORDER BY j)
),
z2 AS (
  SELECT *, lead(zv) OVER (PARTITION BY doc_id, window_id ORDER BY j) AS zv1
  FROM z
),
pairs AS (
  SELECT a.doc_id, a.window_id,
         count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2) AS b_cnt,
         count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2
                            AND abs(a.zv1 - b.zv1) < 0.2) AS a_cnt
  FROM z2 a JOIN z2 b
    ON a.doc_id = b.doc_id AND a.window_id = b.window_id
   AND a.j < b.j AND b.j <= a.wn - 1
  GROUP BY a.doc_id, a.window_id
),
codes AS (
  SELECT doc_id, window_id, wn - 2 AS nw, {_PATTERN_CODE} AS code
  FROM z WHERE j <= wn - 2
),
perm AS (
  SELECT doc_id, window_id,
         -sum((cnt / nw) * ln(cnt / nw) ORDER BY code) / ln(6) AS permen_raw
  FROM (
    SELECT doc_id, window_id, code, CAST(count(*) AS DOUBLE) AS cnt,
           CAST(max(nw) AS DOUBLE) AS nw
    FROM codes GROUP BY doc_id, window_id, code
  ) GROUP BY doc_id, window_id
),
wins AS (
  SELECT doc_id, window_id, any_value(source) AS source,
         any_value(first_ts) AS first_ts, CAST(max(wn) AS INT) AS n_tok
  FROM wf GROUP BY doc_id, window_id
)
SELECT w.doc_id, w.window_id,
       w.first_ts + to_seconds(8 * w.window_id) AS ts,
       w.n_tok, w.source,
       CASE WHEN p.a_cnt > 0
            THEN floor(-ln(CAST(p.a_cnt AS DOUBLE) / p.b_cnt) * 1000000 + 0.5)
                 / 1000000
            ELSE NULL END AS sampen,
       floor(pe.permen_raw * 1000000 + 0.5) / 1000000 AS permen
FROM wins w
LEFT JOIN pairs p USING (doc_id, window_id)
LEFT JOIN perm pe USING (doc_id, window_id)
"""


# ---------------------------------------------------------------- text


def _q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


_ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY lower(trim(text))
"""


def _q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir))


_STOPWORD_SQL = " + ".join(
    f"len(regexp_extract_all(text, '\\b{w}\\b'))"
    for w in ("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")
)

_ORACLE_TEXT_STATS = f"""
SELECT doc_id,
       n_chars,
       length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
       floor((CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
             / (length(text) - length(replace(text, ' ', '')) + 1)) * 1000000 + 0.5) / 1000000 AS avg_word_len,
       floor((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
             / greatest(length(text), 1)) * 1000000 + 0.5) / 1000000 AS punct_ratio,
       floor((CAST({_STOPWORD_SQL} AS DOUBLE)
             / (length(text) - length(replace(text, ' ', '')) + 1)) * 1000000 + 0.5) / 1000000 AS stopword_ratio
FROM documents
"""


def _q_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


_ORACLE_QUALITY = f"""
WITH s AS (
  SELECT doc_id, n_chars,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_words,
         CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
           / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_word_len,
         CAST({_STOPWORD_SQL} AS DOUBLE)
           / (length(text) - length(replace(text, ' ', '')) + 1) AS stopword_ratio
  FROM documents
)
SELECT doc_id,
       floor((0.4 * least(n_chars / 500.0, 1.0)
           + 0.3 * (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0
                         THEN 1.0 ELSE 0.5 END)
           + 0.3 * least(stopword_ratio * 5.0, 1.0)) * 1000000 + 0.5) / 1000000 AS quality
FROM s
"""


def _q_gopher_filters(spark, sf_dir):
    """Gopher-rule (Rae et al. 2021, App. A1.1) quality-filter signals
    + verdict per document — the published pretraining-corpus document
    filters, all whole-stage-codegen expressions."""
    from eristropy_spark.operators.text import gopher_filters

    return gopher_filters(_docs(spark, sf_dir))


# DuckDB lateral column aliases let the verdict reference the rounded
# signal columns directly — both engines round BEFORE the verdict
_ORACLE_GOPHER = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       floor((CAST(length(text) - (n_words - 1) AS DOUBLE) / n_words)
             * 1000000 + 0.5) / 1000000 AS mean_word_len,
       floor((CAST(len(list_filter(string_split(text, ' '),
                                   w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
              / n_words) * 1000000 + 0.5) / 1000000 AS alpha_word_frac,
       floor((CAST(len(regexp_extract_all(text, '#'))
                   + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
              / n_words) * 1000000 + 0.5) / 1000000 AS symbol_word_ratio,
       CAST({_STOPWORD_SQL} AS BIGINT) AS stop_hits,
       floor((1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
                    / len(string_split(text, chr(10)))) * 1000000 + 0.5) / 1000000
         AS dup_line_frac,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND alpha_word_frac >= 0.8
        AND stop_hits >= 2
        AND dup_line_frac <= 0.3) AS passes_gopher
FROM documents
"""


def _q_c4_clean(spark, sf_dir):
    """C4-style line cleaning.  The synthetic corpus has no line
    structure or punctuation, so the query first DERIVES both
    deterministically (a line break + period after every "value " —
    the same regexp_replace in engine and oracle), then cleans; the
    hashed output includes the cleaned text itself, so the transform
    is value-checked end to end with mixed verdict outcomes."""
    from eristropy_spark.operators.text import c4_line_clean

    staged = _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", "value ", "value.\n")
    )
    return c4_line_clean(staged)


_C4_KEPT_SQL = (
    "list_filter(string_split(text, chr(10)), l -> "
    "regexp_matches(l, '[.!?\"][ ]*$') "
    "AND len(string_split_regex(trim(l), ' +')) >= 5 "
    "AND NOT contains(lower(l), 'javascript'))"
)

_ORACLE_C4_CLEAN = f"""
WITH staged AS (
  SELECT doc_id,
         regexp_replace(text, 'value ', 'value.' || chr(10), 'g') AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len({_C4_KEPT_SQL}) AS BIGINT) AS n_kept_lines,
       floor((CAST(n_kept_lines AS DOUBLE) / n_lines) * 1000000 + 0.5)
         / 1000000 AS kept_frac,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       contains(text, '{{') AS has_brace,
       (n_kept_lines >= 3 AND NOT has_lorem AND NOT has_brace) AS passes_c4,
       coalesce(array_to_string({_C4_KEPT_SQL}, chr(10)), '') AS clean_text
FROM staged
"""


def _q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def _lang_score_sql(words):
    return " + ".join(f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in words)


_ORACLE_LANG_ID = f"""
WITH scores AS (
  SELECT doc_id, lang, score FROM (
    SELECT doc_id, 'de' AS lang, {_lang_score_sql(('der','und','das'))} AS score FROM documents
    UNION ALL
    SELECT doc_id, 'en', {_lang_score_sql(('the','and','with'))} FROM documents
    UNION ALL
    SELECT doc_id, 'es', {_lang_score_sql(('el','la','que'))} FROM documents
    UNION ALL
    SELECT doc_id, 'fr', {_lang_score_sql(('le','et','les'))} FROM documents
    UNION ALL
    SELECT doc_id, 'zh', {_lang_score_sql(('的','是','了'))} FROM documents
  )
), ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM scores
)
SELECT doc_id, lang AS pred_lang, CAST(score AS BIGINT) AS score
FROM ranked WHERE rn = 1
"""


def _q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


_ORACLE_NGRAM_JACCARD = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS shingle
  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
  FROM sh x JOIN sh y USING (shingle)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM inter
JOIN sizes a ON a.doc_id = doc_a
JOIN sizes b ON b.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter) >= 0.2
"""


def _q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup — oracle-checked since round 5:
    _oracle_minhash_lsh replays word/shingle hashing, the 64 seeded
    permutations, banding, and Jaccard verification in DuckDB."""
    return minhash_lsh_pairs(_docs(spark, sf_dir), k=64, bands=16, n=3, threshold=0.2)


def _q_simhash(spark, sf_dir):
    # h=8 on the tiny sf corpus exercises the wide-distance banding; the
    # explicit opt-in acknowledges the documented fat-bucket hazard that
    # the guard warns about at real corpus sizes.  Oracle-checked since
    # round 5 (_oracle_simhash: full bit-vote + pigeonhole-band replay).
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=8, allow_large_h=True)


# ------------------------------------------------------------ similarity

_QUERY_VEC_IDS = list(range(10))


def _q_similarity_topk(spark, sf_dir):
    emb = read_parquet(_utc(spark), f"{sf_dir}/embeddings.parquet")
    return cosine_topk_bruteforce(emb, _QUERY_VEC_IDS, k=5)


_ORACLE_SIMILARITY = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         floor((
           list_dot_product(CAST(qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
         ) * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM q, embeddings e
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= 5
"""


def _q_similarity_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN top-k — oracle-checked since round 4:
    _oracle_similarity_lsh replays the seeded LSH family in DuckDB
    (planes as SQL literals), so candidates + rerank are verified
    end-to-end, not just golden-pinned."""
    emb = read_parquet(_utc(spark), f"{sf_dir}/embeddings.parquet")
    return cosine_topk_lsh(emb, _QUERY_VEC_IDS, k=5, n_bits=8, n_tables=8)


def _q_similarity_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN (rows-only; recall pinned vs brute force
    in tests/test_ivf.py, full-probe ≡ brute force equality there too)."""
    from eristropy_spark.operators.ivf import cosine_topk_ivf

    emb = read_parquet(_utc(spark), f"{sf_dir}/embeddings.parquet")
    return cosine_topk_ivf(emb, _QUERY_VEC_IDS, k=5, n_cells=16, nprobe=4)


def _q_multimodal(spark, sf_dir):
    """Plumbing row: text-bytes payloads under mode="auto" — every real
    decode attempt fails (utf-8 text is no media container) and the
    per-payload fake fallback catches it, so the contract exercises the
    probe + fallback path a 100 TB corpus of corrupt payloads needs.
    Real-decode evidence lives in the oracle-checked multimodal_real
    row below."""
    assets = documents_to_assets(_docs(spark, sf_dir))
    return extract_features(assets, mode="auto").drop("feature")


def _q_multimodal_real(spark, sf_dir):
    """REAL decode contract row (round 5): stage_real_assets plants WAV
    and Y4M containers whose geometry is a closed-form function of
    (doc_id, n_chars); mode="real" decodes them strictly (no fallback),
    and _ORACLE_MULTIMODAL_REAL predicts every metadata column in SQL —
    the row verifies the decoders recover exactly the planted geometry."""
    from eristropy_spark.operators.multimodal import stage_real_assets

    assets = stage_real_assets(_docs(spark, sf_dir))
    return extract_features(assets, mode="real").drop("feature")


# audio n_bytes: 44-byte canonical WAV header + 2 bytes/sample.
# video n_bytes: header "YUV4MPEG2 W<w> H<h> F25:1 Ip A1:1\n" +
# frames * (len("FRAME\n") + w*h*3/2) for the C420 default.
_ORACLE_MULTIMODAL_REAL = """
SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
  CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE WHEN doc_id % 2 = 0
    THEN 44 + 2 * (256 + (n_chars % 128) * 4)
    ELSE length('YUV4MPEG2 W' || CAST(16 + (doc_id % 4) * 8 AS VARCHAR)
                || ' H' || CAST(16 + (doc_id % 3) * 8 AS VARCHAR)
                || ' F25:1 Ip A1:1') + 1
         + (1 + doc_id % 4)
           * (6 + ((16 + (doc_id % 4) * 8) * (16 + (doc_id % 3) * 8) * 3) // 2)
  END AS INT) AS n_bytes,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 16 + (doc_id % 4) * 8 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 16 + (doc_id % 3) * 8 END AS INT) AS height,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 256 + (n_chars % 128) * 4
            ELSE 1 + doc_id % 4 END AS INT) AS n_frames
FROM documents
"""


# the synthetic embeddings have no true near-dups (max pairwise cosine
# ≈0.51 at sf0.01), so the contract threshold sits in the occupied tail
_EMBED_DUP_THRESHOLD = 0.35


def _q_embed_dedup_exact(spark, sf_dir):
    from eristropy_spark.operators.embed_dedup import embedding_dup_pairs_exact

    emb = read_parquet(_utc(spark), f"{sf_dir}/embeddings.parquet")
    return embedding_dup_pairs_exact(emb, threshold=_EMBED_DUP_THRESHOLD)


_ORACLE_EMBED_DEDUP = f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor((list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE floor((list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000
      >= {_EMBED_DUP_THRESHOLD}
"""


def _q_embed_dedup_lsh(spark, sf_dir):
    from eristropy_spark.operators.embed_dedup import embedding_dup_pairs_lsh

    emb = read_parquet(_utc(spark), f"{sf_dir}/embeddings.parquet")
    # threshold sits in the corpus's occupied cosine tail (same 0.35 as
    # embed_dedup_exact) so the contract row carries real evidence: the
    # seeded LSH output here is deterministic, value-pinned by the
    # golden test (tests/test_golden_rowsonly.test_golden_embed_dedup_lsh
    # recomputes the exact pair set locally and asserts LSH ⊆ exact)
    # AND oracle-checked (_oracle_embed_dedup_lsh embeds the seeded
    # hyperplanes as SQL literals so DuckDB replays the whole LSH
    # independently).  Production would run threshold≈0.95; the
    # planted-duplicate test (tests/test_embed_dedup.py) covers that
    # regime (LSH == exact).
    return embedding_dup_pairs_lsh(
        emb, threshold=_EMBED_DUP_THRESHOLD, n_bits=8, n_tables=8, seed=17
    )


def _lsh_codes_cte(
    n_tables: int = 8, n_bits: int = 8, dim: int = 64, seed: int = 17
) -> str:
    """Shared CTE prefix for the hyperplane-LSH oracles: the seeded
    planes (same RandomState(17) draw as make_hyperplane_udf) become a
    VALUES literal and per-(vec, table) bucket codes are recomputed
    with list_dot_product — DuckDB replays the entire LSH family
    independently of the Spark UDF.  Sign decisions are
    float-order-robust because random-normal dot products land
    ~1e-13-near zero with negligible probability (verified equal at
    sf0.01 and sf0.1).  dim=64 is fixed across the testdata."""
    import numpy as np

    planes = np.random.RandomState(seed).normal(
        size=(n_tables, n_bits, dim)
    ).astype(np.float64)
    vals = ",\n".join(
        f"({t},{b},[{','.join(repr(float(x)) for x in planes[t, b])}])"
        for t in range(n_tables)
        for b in range(n_bits)
    )
    return f"""
WITH planes(t, b, pv) AS (VALUES
{vals}
), codes AS (
  SELECT e.vec_id, p.t,
         sum(CASE WHEN list_dot_product(p.pv, CAST(e.embedding AS DOUBLE[])) > 0
                  THEN CAST(pow(2, p.b) AS BIGINT) ELSE 0 END) AS code
  FROM embeddings e, planes p GROUP BY e.vec_id, p.t
)"""


def _oracle_embed_dedup_lsh() -> str:
    """DuckDB replay of the embed-dedup LSH path: shared-bucket
    candidate join + exact-cosine filter mirroring the Spark plan."""
    return _lsh_codes_cte() + f""", cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM codes x JOIN codes y ON x.t = y.t AND x.code = y.code AND x.vec_id < y.vec_id
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT c.id_a, c.id_b,
       floor((list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cos_sim
FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b
WHERE floor((list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000
      >= {_EMBED_DUP_THRESHOLD}
"""


def _oracle_similarity_lsh(k: int = 5) -> str:
    """DuckDB replay of cosine_topk_lsh: shared-bucket candidates per
    query (query ids < 10), exact cosine rerank, row_number top-k with
    the same (cos desc, neighbor asc) deterministic tie-break."""
    return _lsh_codes_cte() + f""", cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
), scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         floor((
           list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
         ) * 1000000 + 0.5) / 1000000 AS cos_sim
  FROM cand cd
  JOIN embeddings q ON q.vec_id = cd.query_id
  JOIN embeddings e ON e.vec_id = cd.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------- text-LSH SQL replay (round 5)
#
# minhash_lsh / simhash became oracle-checkable when the word hash moved
# from pandas' C SipHash to a codepoint-polynomial + splitmix64 scheme
# (operators/dedup._word_hashes): every step is 64-bit wraparound
# arithmetic, replayed here in HUGEINT SQL mod 2^64.  Structure note:
# each splitmix step lives in its OWN subquery layer — DuckDB inlines
# intra-SELECT lateral aliases textually, so a chained mix written as
# lateral aliases explodes to 2^depth subexpressions (measured 80 s vs
# 3.6 s for the layered form on the sf0.01 corpus).

_M64 = 1 << 64
_MIX_C1 = 0xFF51AFD7ED558CCD
_MIX_C2 = 0xC4CEB9FE1A85EC53


def _mulmod_sql(x: str, c: int) -> str:
    """(x * c) mod 2^64 in HUGEINT SQL without overflowing int128:
    32-bit split — lo*c (< 2^96) plus the low 32 bits of hi*c shifted."""
    return (
        f"((({x} % 4294967296) * {c}) % {_M64} + "
        f"(((({x} // 4294967296) * {c}) % 4294967296) * 4294967296)) % {_M64}"
    )


def _mix64_sql_steps(col_in: str, col_out: str, seed) -> list[tuple[str, str]]:
    """(expr, alias) steps replaying dedup._mix64(col_in ^ seed).
    ``seed`` may be an int literal or a column name.  ``x >> 33`` is
    written ``x // 2^33`` (values are non-negative)."""
    t = f"{col_out}_t"
    return [
        (f"xor({col_in}, {seed})", f"{t}1"),
        (f"xor({t}1, {t}1 // 8589934592)", f"{t}2"),
        (_mulmod_sql(f"{t}2", _MIX_C1), f"{t}3"),
        (f"xor({t}3, {t}3 // 8589934592)", f"{t}4"),
        (_mulmod_sql(f"{t}4", _MIX_C2), f"{t}5"),
        (f"xor({t}5, {t}5 // 8589934592)", col_out),
    ]


def _chain_sql(base_sql: str, keep: list[str], steps: list[tuple[str, str]]) -> str:
    """One subquery layer per step; every produced alias is carried
    forward (later chains may re-consume an earlier chain's output,
    e.g. the three salted mixes all read the word hash ``wh``)."""
    cur = base_sql
    cols = list(keep)
    for expr, alias in steps:
        cur = f"SELECT {', '.join(cols)}, {expr} AS {alias} FROM ({cur})"
        cols.append(alias)
    return cur


def _shingle_sql(n: int) -> str:
    """Subquery yielding (doc_id, sh): the distinct word-n-gram hashes of
    dedup._shingle_hashes_batch — codepoint-polynomial word hash (first
    16 codepoints + length salt), splitmix finalizer, per-position salted
    mixes XOR-combined over each window, whole-text fallback for docs
    with < n words, [] for empty text."""
    from eristropy_spark.operators.dedup import (
        _GRAM_SALTS,
        _WORD_LEN_SALT,
        _WORD_POWS,
        _WORD_SEED,
    )

    poly = " + ".join(
        f"(CAST(CASE WHEN wl >= {j + 1} THEN unicode(substr(wd, {j + 1}, 1)) "
        f"ELSE 0 END AS HUGEINT) * {int(_WORD_POWS[j])})"
        for j in range(16)
    )
    base = f"""
SELECT doc_id, i, L, xor(h0, (wl * {int(_WORD_LEN_SALT)}) % {_M64}) AS hx
FROM (
  SELECT doc_id, i, L, wl, ({poly}) % {_M64} AS h0
  FROM (
    SELECT doc_id, i, ws[i] AS wd, len(ws) AS L,
           CAST(length(ws[i]) AS HUGEINT) AS wl
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents WHERE text IS NOT NULL AND text != ''),
         LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
  )
)
"""
    steps = _mix64_sql_steps("hx", "wh", int(_WORD_SEED))
    for j in range(n):
        steps += _mix64_sql_steps("wh", f"m{j}", int(_GRAM_SALTS[j]))
    sm = _chain_sql(base, ["doc_id", "i", "L", "hx"], steps)
    leads = "".join(
        f",\n           lead(m{j}, {j}) OVER (PARTITION BY doc_id ORDER BY i) AS m{j}n"
        for j in range(1, n)
    )

    def _xor_first(g: int) -> str:
        expr = "m0"
        for j in range(1, g):
            expr = f"xor({expr}, m{j}n)"
        return expr

    if n == 1:
        sh_expr = "m0"
    else:
        cases = [f"WHEN L >= {n} THEN {_xor_first(n)}"]
        cases += [f"WHEN L = {g} THEN {_xor_first(g)}" for g in range(n - 1, 1, -1)]
        sh_expr = "CASE " + " ".join(cases) + " ELSE m0 END"
    return f"""
  SELECT DISTINCT doc_id, {sh_expr} AS sh
  FROM (
    SELECT doc_id, i, L, m0{leads}
    FROM ({sm})
  )
  WHERE i <= L - least({n}, L) + 1
"""


def _oracle_minhash_lsh(threshold=0.2, k=64, bands=16, n=3, seed=17) -> str:
    """Full DuckDB replay of minhash_lsh_pairs: word/shingle hashing,
    the k seeded splitmix permutations, banded candidate generation
    (band equality on the raw sub-signature tuples — bucket VALUES are
    Spark-internal murmur3, but only bucket EQUALITY matters), and the
    string-level exact-Jaccard verification, mirroring the Spark plan."""
    import numpy as np

    rows = k // bands
    seeds = np.random.RandomState(seed).randint(1, 2**31, size=k)
    seed_vals = ",".join(f"({j},{int(s)})" for j, s in enumerate(seeds))
    mh_chain = _chain_sql(
        "SELECT doc_id, j, sv, sh FROM shg CROSS JOIN seeds",
        ["doc_id", "j"],
        _mix64_sql_steps("sh", "mhv", "sv"),
    )
    return f"""
WITH shg AS MATERIALIZED (
{_shingle_sql(n)}
), seeds(j, sv) AS (VALUES {seed_vals}),
mh1 AS (
  SELECT doc_id, j, min(mhv) AS mhv FROM ({mh_chain}) GROUP BY 1, 2
), mh AS (
  SELECT d.doc_id, s.j, coalesce(m.mhv, 0) AS mh
  FROM documents d CROSS JOIN seeds s
  LEFT JOIN mh1 m ON m.doc_id = d.doc_id AND m.j = s.j
), bnd AS MATERIALIZED (
  SELECT doc_id, j // {rows} AS band, list(mh ORDER BY j) AS subsig
  FROM mh GROUP BY doc_id, j // {rows}
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bnd x JOIN bnd y ON x.band = y.band AND x.subsig = y.subsig
  WHERE x.doc_id < y.doc_id
), vsh AS MATERIALIZED (
  SELECT DISTINCT doc_id, array_to_string(ws[i : i + {n - 1}], ' ') AS shingle
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - {n - 1}, 0))) AS i)
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM vsh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN vsh x ON x.doc_id = c.doc_a
  JOIN vsh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  floor((CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM inter JOIN sizes a ON a.doc_id = doc_a JOIN sizes b ON b.doc_id = doc_b
WHERE floor((CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter)) * 1000000 + 0.5) / 1000000 >= {threshold}
"""


def _oracle_simhash(max_hamming=8, seed=17, n=2) -> str:
    """Full DuckDB replay of simhash_pairs: per-bit majority votes over
    the seeded-mixed shingle hashes, pigeonhole banding of the 64-bit
    signature, exact popcount verification.  Empty/short docs get
    signature 0 exactly like the kernel."""
    n_bands = max_hamming + 1
    base_w = 64 // n_bands
    extra = 64 - base_w * n_bands
    band_rows, off = [], 0
    for b in range(n_bands):
        wdt = base_w + (1 if b < extra else 0)
        band_rows.append(f"({b},{1 << off},{1 << wdt})")
        off += wdt
    band_vals = ",".join(band_rows)
    bit_vals = ",".join(f"({b},{1 << b})" for b in range(64))
    hh_chain = _chain_sql(
        "SELECT doc_id, sh FROM shg",
        ["doc_id"],
        _mix64_sql_steps("sh", "hh", seed),
    )
    return f"""
WITH shg AS MATERIALIZED (
{_shingle_sql(n)}
), shh AS MATERIALIZED (
  {hh_chain}
), nsh AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
bitpos(bit, p2) AS (VALUES {bit_vals}),
ones AS (
  SELECT s.doc_id, b.bit, b.p2,
         sum(CASE WHEN (hh // b.p2) % 2 = 1 THEN 1 ELSE 0 END) AS n1
  FROM shh s CROSS JOIN bitpos b GROUP BY 1, 2, 3
), simc AS (
  SELECT o.doc_id, sum(CASE WHEN 2 * o.n1 - n.n > 0 THEN o.p2 ELSE 0 END) AS sim
  FROM ones o JOIN nsh n USING (doc_id) GROUP BY 1
), sims AS MATERIALIZED (
  SELECT d.doc_id, CAST(coalesce(s.sim, 0) AS HUGEINT) AS sim
  FROM documents d LEFT JOIN simc s USING (doc_id)
), banddef(band, ofs, wsz) AS (VALUES {band_vals}),
sbb AS MATERIALIZED (
  SELECT doc_id, band, (sim // ofs) % wsz AS bucket FROM sims CROSS JOIN banddef
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM sbb x JOIN sbb y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
FROM cand c JOIN sims a ON a.doc_id = c.doc_a JOIN sims b ON b.doc_id = c.doc_b
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


# ------------------------------------------------------- relational shell


def _q_tpch_q1(spark, sf_dir):
    li = read_parquet(_utc(spark), f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            _r6(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r6(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            _r6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 1000000 + 0.5) / 1000000 AS sum_qty,
       floor((sum(l_extendedprice)) * 1000000 + 0.5) / 1000000 AS sum_base_price,
       floor((sum(l_extendedprice * (1 - l_discount))) * 1000000 + 0.5) / 1000000 AS sum_disc_price,
       floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty,
       floor((avg(l_discount)) * 1000000 + 0.5) / 1000000 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def _q_tpch_q3(spark, sf_dir):
    """Join shell: customer ⋈ orders ⋈ lineitem, top-10 revenue orders.
    The customer side is broadcast (small dim)."""
    cust = read_parquet(_utc(spark), f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _r6(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_ORACLE_TPCH_Q3 = """
SELECT o_orderkey, o_orderdate,
       floor((sum(l_extendedprice * (1 - l_discount))) * 1000000 + 0.5) / 1000000 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def _q_semi_join(spark, sf_dir):
    """P3 shape: keep-list semi-join — customers with any high-value order."""
    cust = read_parquet(_utc(spark), f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    keep = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.join(keep.distinct(), "c_custkey", "left_semi")
        .select("c_custkey", "c_name", _r6("c_acctbal").alias("c_acctbal"))
    )


_ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_name, floor((c_acctbal) * 1000000 + 0.5) / 1000000 AS c_acctbal
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


def _q_cube_rollup(spark, sf_dir):
    """§2.8 capability the reference lacks, supplied natively by Spark:
    GROUP BY ROLLUP over (source, lang) with grand totals."""
    d = _docs(spark, sf_dir)
    return (
        d.rollup("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .select("source", "lang", "n_docs", "sum_chars")
    )


_ORACLE_CUBE_ROLLUP = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY ROLLUP (source, lang)
"""


def _q_asof_join(spark, sf_dir):
    """As-of join (backward, inclusive): each click event gets the most
    recent prior purchase value for its user.  Spark-first plan: union +
    one running window — one shuffle, no range join (operators/temporal
    docstring); the oracle is DuckDB's NATIVE ASOF JOIN, a genuinely
    independent implementation of the same semantics."""
    from eristropy_spark.operators.temporal import asof_join

    ev = read_parquet(_utc(spark), f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # one row per (user, ts): ASOF tie-order among equal right timestamps
    # is unspecified in both engines, so the contract pre-aggregates
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["pval"], suffix="_last",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_last").alias("purchase_ts"),
        _r6("pval_last").alias("last_purchase_value"),
    )


_ORACLE_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, max(value) AS pval
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts,
       floor((p.pval) * 1000000 + 0.5) / 1000000 AS last_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): per-user session
    summaries.  One window + one aggregate — two narrow shuffles."""
    from eristropy_spark.operators.temporal import sessionize

    ev = read_parquet(_utc(spark), f"{sf_dir}/events.parquet")
    with_sess = sessionize(
        ev, "user_id", ts_col="ts", gap_sec=1800.0, tiebreak="event_id"
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        _r6(F.sum("value")).alias("sum_value"),
    )


_ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  -- CAST: DuckDB's window sum(INTEGER) returns HUGEINT, which the
  -- driver's value hash distinguishes from Spark's BIGINT.
  SELECT user_id, ts, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       floor((sum(value)) * 1000000 + 0.5) / 1000000 AS sum_value
FROM sess GROUP BY user_id, session_id
"""


def _q_cardinality_rollup(spark, sf_dir):
    """Per-(source, hour) event + distinct-user counts — the exact path
    (two-phase distinct aggregate); approx_count_distinct (HLL++) is the
    100 TB variant, accuracy-pinned in tests."""
    from eristropy_spark.operators.rollup import cardinality_rollup

    ev = read_parquet(_utc(spark), f"{sf_dir}/events.parquet").select(
        "ts", F.col("event_type").alias("source"), "user_id"
    )
    return cardinality_rollup(ev, "hour", "user_id", exact=True)


_ORACLE_CARDINALITY_ROLLUP = """
SELECT event_type AS source, date_trunc('hour', ts) AS bucket,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_distinct
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


def _q_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smooth idf, deterministic
    tie-break on the rounded score) — all JVM expressions."""
    from eristropy_spark.operators.text import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=3)


_ORACLE_TFIDF = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(w)
  WHERE w <> ''
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
), idf AS (
  SELECT word,
         ln((1.0 + (SELECT count(*) FROM documents)) / (1.0 + count(*))) + 1.0
           AS idf
  FROM tf GROUP BY word
), scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         floor((tf.tf * idf.idf) * 1000000 + 0.5) / 1000000 AS score
  FROM tf JOIN idf USING (word)
), ranked AS (
  SELECT doc_id, word, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, word ASC) AS rank
  FROM scored
)
SELECT doc_id, word, tf, score, rank FROM ranked WHERE rank <= 3
"""


def _q_md5_sample(spark, sf_dir):
    """Deterministic 13/256 (~5%) corpus sample keyed on doc_id —
    partition-invariant, engine-portable (md5 prefix filter, pure
    pushed-down predicate)."""
    from eristropy_spark.operators.sampling import md5_sample

    return md5_sample(_docs(spark, sf_dir), "doc_id", rate_num=13).select(
        "doc_id", "source", "n_chars"
    )


_ORACLE_MD5_SAMPLE = """
SELECT doc_id, source, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
"""


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 App. C 13-gram rule): the md5
    bucket < 32 slice of `documents` plays the eval set, the rest the
    training corpus; docs sharing any 13-gram (whole-text gram for
    shorter docs) are flagged with their hit counts.  Benchmark grams
    broadcast; corpus text never shuffles
    (operators/decontam.ngram_overlap_decontaminate)."""
    from eristropy_spark.operators.decontam import ngram_overlap_decontaminate

    docs = _docs(spark, sf_dir)
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    bench = docs.where(key < "20")
    corpus = docs.where(key >= "20")
    return ngram_overlap_decontaminate(corpus, bench, n=13)


def _q_scrub_pii(spark, sf_dir):
    """PII redaction (Dolma §4.1 scrub rule): the synthetic corpus
    carries no PII, so deterministic spans are planted from doc_id
    alone — identically in the oracle — then scrubbed.  The cleaned
    text itself is value-hashed, so the transform (not just counts) is
    verified.  Pure codegen (operators/text.scrub_pii)."""
    from eristropy_spark.operators.text import scrub_pii

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    planted = docs.withColumn(
        "text",
        F.when(
            d % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                (d % 50).cast("string"),
                F.lit("@example.com or 555-123-4567"),
            ),
        )
        .when(
            d % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" ssn 123-45-6789 from 10.0.0."),
                (d % 250 + 1).cast("string"),
            ),
        )
        .otherwise(F.col("text")),
    )
    return scrub_pii(planted)


def _oracle_scrub_pii() -> str:
    """DuckDB replay generated from the SAME PII_PATTERNS constants the
    engine applies (single source of truth): each category counts on
    the previous category's cleaned text, then redacts ('g' flag — Java
    replaces all matches by default, RE2 needs the flag)."""
    from eristropy_spark.operators.text import PII_PATTERNS

    planted = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
                 CAST(doc_id % 50 AS VARCHAR) ||
                 '@example.com or 555-123-4567'
            WHEN doc_id % 11 = 0 THEN text || ' ssn 123-45-6789 from 10.0.0.' ||
                 CAST(doc_id % 250 + 1 AS VARCHAR)
            ELSE text END AS t0
FROM documents
"""
    inner = f"({planted})"
    for idx, (name, pat, repl) in enumerate(PII_PATTERNS):
        inner = (
            f"(SELECT *,"
            f" CAST(len(regexp_extract_all(t{idx}, '{pat}')) AS BIGINT)"
            f" AS n_{name},"
            f" regexp_replace(t{idx}, '{pat}', '{repl}', 'g') AS t{idx + 1}"
            f" FROM {inner})"
        )
    names = [name for name, _p, _r in PII_PATTERNS]
    cols = ", ".join(f"n_{n}" for n in names)
    total = " + ".join(f"n_{n}" for n in names)
    return (
        f"SELECT doc_id, {cols}, CAST({total} AS BIGINT) AS n_pii,"
        f" t{len(PII_PATTERNS)} AS clean_text FROM {inner}"
    )


# Joins the gram STRINGS where the engine joins their xxhash64 images —
# count equality therefore also certifies zero hash collisions at
# contract scale.  Same in-row gram construction: lowercase, split on
# single spaces, 13-word windows, whole-text fallback under 13 words.
_ORACLE_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h,
         string_split(lower(text), ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, h,
         unnest(list_distinct(CASE WHEN len(ws) >= 13
           THEN list_transform(range(1, len(ws) - 13 + 2),
                               i -> array_to_string(ws[i:i+12], ' '))
           ELSE [array_to_string(ws, ' ')] END)) AS gram
  FROM w
),
bench AS (SELECT DISTINCT gram FROM g WHERE h < '20'),
corpus AS (SELECT doc_id, gram FROM g WHERE h >= '20'),
hits AS (
  SELECT c.doc_id, count(*) AS n_hits
  FROM corpus c JOIN bench b USING (gram)
  GROUP BY c.doc_id
),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id)
SELECT p.doc_id,
       CAST(p.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_contaminated,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM per_doc p LEFT JOIN hits h USING (doc_id)
"""


def _q_interval_join(spark, sf_dir):
    """Range join (bucketed): error events attached to the session
    interval that contains them.  Intervals explode into covered time
    buckets, points map to ONE bucket, so the range predicate becomes an
    equi-join + residual filter — no per-key cross product
    (operators/temporal.interval_join docstring)."""
    from eristropy_spark.operators.temporal import interval_join, sessionize

    ev = read_parquet(_utc(spark), f"{sf_dir}/events.parquet")
    sessions = (
        sessionize(ev, "user_id", ts_col="ts", gap_sec=1800.0,
                   tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return interval_join(
        errors, sessions, on="user_id", bucket_sec=3600.0
    ).select("event_id", "user_id", "ts", "session_id")


_ORACLE_INTERVAL_JOIN = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  -- CAST: DuckDB's window sum(INTEGER) returns HUGEINT (see sessionize).
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
           AS session_id
  FROM flagged
), intervals AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY user_id, session_id
)
SELECT ev.event_id, ev.user_id, ev.ts, i.session_id
FROM events ev JOIN intervals i
  ON ev.user_id = i.user_id AND ev.ts >= i.s AND ev.ts <= i.e
WHERE ev.event_type = 'error'
"""


def _q_rolling_stats(spark, sf_dir):
    """Trailing 600-second rolling mean/std/min/max/count + rolling
    z-score per user — the timeseries moving-aggregate primitive
    (operators/rolling.py): one keyed shuffle, integer-microsecond
    RANGE frame, sample std pinned NULL for 1-point windows, z NULL
    below 2 points or zero std."""
    from eristropy_spark.operators.rolling import rolling_stats, rolling_zscore

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = rolling_stats(ev, "user_id", window_sec=600.0)
    r = rolling_zscore(r, "user_id", window_sec=600.0)
    return r.select(
        "event_id",
        "user_id",
        _r6("roll_mean").alias("roll_mean"),
        _r6("roll_std").alias("roll_std"),
        F.col("roll_min"),
        F.col("roll_max"),
        F.col("roll_n"),
        _r6("zscore").alias("zscore"),
    )


_ORACLE_ROLLING_STATS = """
SELECT event_id, user_id,
       floor(avg(value) OVER w * 1000000 + 0.5) / 1000000 AS roll_mean,
       CASE WHEN count(value) OVER w > 1 THEN
            floor(stddev_samp(value) OVER w * 1000000 + 0.5) / 1000000
       END AS roll_std,
       min(value) OVER w AS roll_min,
       max(value) OVER w AS roll_max,
       CAST(count(value) OVER w AS BIGINT) AS roll_n,
       CASE WHEN count(value) OVER w >= 2 AND stddev_samp(value) OVER w > 0
            THEN floor((value - avg(value) OVER w) / stddev_samp(value) OVER w
                       * 1000000 + 0.5) / 1000000
       END AS zscore
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


def _q_ohlc_rollup(spark, sf_dir):
    """Per-(source, hour) open/high/low/close downsample — first/last
    by (ts, event_id) via min_by/max_by: one two-phase hash aggregate
    with mergeable states (operators/rollup.ohlc_rollup)."""
    from eristropy_spark.operators.rollup import ohlc_rollup

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "event_id", "value"
    )
    return ohlc_rollup(ev, "hour", tiebreak_col="event_id")


_ORACLE_OHLC_ROLLUP = """
WITH x AS (
  SELECT event_type AS source, date_trunc('hour', ts) AS bucket, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT source, bucket,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY source, bucket
"""


def _q_histogram_rollup(spark, sf_dir):
    """Per-(source, hour) fixed-bin value histogram in long form —
    two-phase count keyed by (source, bucket, bin), exact-binary bin
    width so the floor boundary is engine-identical
    (operators/rollup.histogram_rollup)."""
    from eristropy_spark.operators.rollup import histogram_rollup

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    return histogram_rollup(ev, "hour", lo=-3.0, hi=3.0, n_bins=12)


_ORACLE_HISTOGRAM_ROLLUP = """
SELECT event_type AS source, date_trunc('hour', ts) AS bucket,
       CAST(LEAST(GREATEST(floor((value - (-3.0)) / 0.5), 0), 11)
            AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY 1, 2, 3
"""


def _q_acf(spark, sf_dir):
    """Per-signal autocorrelation at lags 1..10 over the tokenized
    event series — one mapInArrow boundary (numpy dots over zero-copy
    list views), zero shuffle beyond tokenize's own
    (operators/acf.acf_long)."""
    from eristropy_spark.operators.acf import acf_long

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = acf_long(tokens, array_col="tokens", max_lag=10,
                 keep_cols=("doc_id",))
    return r.select("doc_id", "lag", _r6("acf").alias("acf"))


_ORACLE_ACF = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), st AS (
  SELECT doc_id, avg(tok) AS mu, count(*) AS n FROM pts GROUP BY doc_id
), dev AS (
  SELECT p.doc_id, p.i, p.tok - s.mu AS d, s.n
  FROM pts p JOIN st s USING (doc_id)
), den AS (
  SELECT doc_id, sum(d * d) AS den, max(n) AS n FROM dev GROUP BY doc_id
), lags AS (
  SELECT doc_id, den, unnest(generate_series(1, LEAST(10, n - 1))) AS lag
  FROM den
)
SELECT l.doc_id, CAST(l.lag AS INT) AS lag,
       floor((sum(a.d * b.d) / l.den) * 1000000 + 0.5) / 1000000 AS acf
FROM lags l
JOIN dev a ON a.doc_id = l.doc_id
JOIN dev b ON b.doc_id = l.doc_id AND b.i = a.i + l.lag
GROUP BY l.doc_id, l.lag, l.den
"""


def _q_counter_rate(spark, sf_dir):
    """Reset-aware Prometheus-style counter increase + per-second rate
    per user (operators/counters.counter_rate): one keyed shuffle, a
    streaming lag frame (O(1) state per key), elapsed time in exact
    integer microseconds, decreases treated as counter resets."""
    from eristropy_spark.operators.counters import counter_rate

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = counter_rate(ev, "user_id", tiebreak_col="event_id")
    return r.select(
        "event_id",
        "user_id",
        _r6("increase").alias("increase"),
        _r6("rate").alias("rate"),
    )


_ORACLE_COUNTER_RATE = """
WITH d AS (
  SELECT event_id, user_id, value,
         value - lag(value) OVER w AS delta,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), inc AS (
  SELECT event_id, user_id, dt_us,
         CASE WHEN delta < 0 THEN value ELSE delta END AS increase
  FROM d
)
SELECT event_id, user_id,
       CASE WHEN isnan(increase) OR increase IS NULL THEN increase
            ELSE floor(increase * 1000000.0 + 0.5) / 1000000.0 END AS increase,
       CASE WHEN dt_us > 0 THEN
            floor((increase * 1000000.0 / dt_us) * 1000000.0 + 0.5) / 1000000.0
       END AS rate
FROM inc
"""


def _q_sax(spark, sf_dir):
    """PAA + SAX symbolization (Lin & Keogh 2003) of each user's value
    series: z-norm, 16 equal segments by exact integer division, segment
    means mapped to a 4-letter alphabet at the standard-normal
    breakpoints (operators/sax.sax_symbols).  Two aggregations over the
    same key prefix, map-side combined, no arrays collected per task."""
    from eristropy_spark.operators.sax import sax_symbols

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    return sax_symbols(
        ev, "user_id", tiebreak_col="event_id", n_segments=16, alphabet=4
    )


_ORACLE_SAX = """
WITH pts AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS idx
  FROM events
), st AS (
  SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd,
         count(*) AS n
  FROM events GROUP BY user_id
), z AS (
  SELECT p.user_id,
         CAST((p.idx * 16) // s.n AS INT) AS segment,
         CASE WHEN s.sd > 0 THEN (p.value - s.mu) / s.sd END AS zval
  FROM pts p JOIN st s USING (user_id)
), paa AS (
  SELECT user_id, segment,
         floor(avg(zval) * 1000000.0 + 0.5) / 1000000.0 AS paa
  FROM z GROUP BY user_id, segment
)
SELECT user_id, segment, paa,
       CASE WHEN paa IS NOT NULL THEN CAST(
              (CASE WHEN paa > -0.67 THEN 1 ELSE 0 END)
            + (CASE WHEN paa > 0.0  THEN 1 ELSE 0 END)
            + (CASE WHEN paa > 0.67 THEN 1 ELSE 0 END) AS INT)
       END AS symbol
FROM paa
"""


def _q_ewma(spark, sf_dir):
    """Running EWMA (alpha=0.25, adjust=False recursion) per user —
    the one inherently-sequential per-key scan in the contract, run as
    a grouped Pandas stage (operators/smoothing.ewma): one key shuffle,
    C-side ewm per group, bit-identical to the literal recursion the
    oracle's recursive CTE evaluates."""
    from eristropy_spark.operators.smoothing import ewma

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = ewma(ev, "user_id", alpha=0.25, tiebreak_col="event_id")
    return r.select("event_id", "user_id", _r6("ewma").alias("ewma"))


_ORACLE_EWMA = """
WITH RECURSIVE pts AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
), rec AS (
  SELECT user_id, event_id, i, value AS ewma FROM pts WHERE i = 1
  UNION ALL
  SELECT p.user_id, p.event_id, p.i,
         (1.0 - 0.25) * r.ewma + 0.25 * p.value
  FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.i = r.i + 1
)
SELECT user_id, event_id,
       floor(ewma * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM rec
"""


def _q_cusum(spark, sf_dir):
    """Two-sided CUSUM change-point chart per user (Page 1954;
    operators/changepoint.cusum_changepoints): the max(0,...) recursion
    factored into prefix-sum + running-min reflection — two streaming
    frames over one keyed shuffle, no Python.  The alarm is recomputed
    from the ROUNDED statistics so the boolean is engine-deterministic."""
    from eristropy_spark.operators.changepoint import cusum_changepoints

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = cusum_changepoints(
        ev, "user_id", tiebreak_col="event_id", k=0.25, h=3.0
    )
    pos = _r6("cusum_pos")
    neg = _r6("cusum_neg")
    return r.select(
        "event_id",
        "user_id",
        pos.alias("cusum_pos"),
        neg.alias("cusum_neg"),
        ((pos > F.lit(3.0)) | (neg > F.lit(3.0))).alias("alarm"),
    )


_ORACLE_CUSUM = """
WITH q AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS v
  FROM events
), mu AS (
  SELECT event_id, user_id, ts, v,
         CAST(floor(avg(CAST(v AS DOUBLE)) OVER (PARTITION BY user_id)
                    * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS mu
  FROM q
), p AS (
  SELECT event_id, user_id, ts,
         sum(v - mu - CAST(0.25 AS DECIMAL(26, 6))) OVER w AS p_pos,
         sum(mu - v - CAST(0.25 AS DECIMAL(26, 6))) OVER w AS p_neg
  FROM mu
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT event_id, user_id,
         CAST(p_pos - least(CAST(0 AS DECIMAL(26, 6)), min(p_pos) OVER w)
              AS DOUBLE) AS cusum_pos,
         CAST(p_neg - least(CAST(0 AS DECIMAL(26, 6)), min(p_neg) OVER w)
              AS DOUBLE) AS cusum_neg
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       floor(cusum_pos * 1000000.0 + 0.5) / 1000000.0 AS cusum_pos,
       floor(cusum_neg * 1000000.0 + 0.5) / 1000000.0 AS cusum_neg,
       (floor(cusum_pos * 1000000.0 + 0.5) / 1000000.0 > 3.0
        OR floor(cusum_neg * 1000000.0 + 0.5) / 1000000.0 > 3.0) AS alarm
FROM s
"""


def _q_expanding_zscore(spark, sf_dir):
    """Expanding (lifetime) z-score per event
    (operators/rolling.expanding_zscore): DECIMAL-exact running Σv/Σv²
    on streaming frames, fixed-order mean/var/z — ONE keyed Exchange,
    no Python; the batch twin of streaming/zscore."""
    from eristropy_spark.operators.rolling import expanding_zscore

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = expanding_zscore(ev, "user_id", tiebreak_col="event_id")
    return r.select(
        "event_id",
        "user_id",
        _r6("exp_mean").alias("exp_mean"),
        _r6("exp_std").alias("exp_std"),
        _r6("exp_z").alias("exp_z"),
    )


_ORACLE_EXPANDING_ZSCORE = """
WITH q AS (
  SELECT event_id, user_id, ts,
         floor(value * 1000000.0 + 0.5) / 1000000.0 AS v6,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18, 6)) AS vq
  FROM events
), run AS (
  SELECT event_id, user_id, v6,
         count(*) OVER w AS n,
         sum(vq) OVER w AS s1,
         sum(vq * vq) OVER w AS s2
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT event_id, user_id, v6, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         (CAST(s2 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) - 1.0) AS var
  FROM run
)
SELECT event_id, user_id,
       floor(mean * 1000000 + 0.5) / 1000000 AS exp_mean,
       CASE WHEN n >= 2 THEN
         floor(sqrt(var) * 1000000 + 0.5) / 1000000 END AS exp_std,
       CASE WHEN n >= 2 AND var > 0.0 THEN
         floor(((v6 - mean) / sqrt(var)) * 1000000 + 0.5) / 1000000
       END AS exp_z
FROM st
"""


def _q_seasonal_decompose(spark, sf_dir):
    """Classical additive trend/seasonal/remainder decomposition per
    user at period 12 (operators/decompose.seasonal_decompose): 2xMA
    trend from two sliding sums, (key, phase) seasonal indexes centered
    per key, broadcast re-attach — one keyed shuffle plus a dimension-
    sized join, all codegen."""
    from eristropy_spark.operators.decompose import seasonal_decompose

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = seasonal_decompose(ev, "user_id", period=12, tiebreak_col="event_id")
    return r.select(
        "event_id",
        "user_id",
        _r6("trend").alias("trend"),
        _r6("seasonal").alias("seasonal"),
        _r6("remainder").alias("remainder"),
    )


_ORACLE_SEASONAL_DECOMPOSE = """
WITH q AS (
  SELECT event_id, user_id, ts,
         floor(value * 1000000.0 + 0.5) / 1000000.0 AS v6,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS vd
  FROM events
), tr AS (
  SELECT event_id, user_id, v6,
         CASE WHEN count(vd) OVER wl = 12 AND count(vd) OVER wr = 12
              THEN CAST(sum(vd) OVER wl + sum(vd) OVER wr AS DOUBLE) / 24.0
         END AS trend,
         (row_number() OVER o - 1) % 12 AS phase
  FROM q
  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id),
         wl AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
         wr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
), idx AS (
  SELECT user_id, phase,
         CAST(sum(CAST(floor((v6 - trend) * 1000000000000.0 + 0.5)
                         / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE)
           / count(*) AS raw_idx
  FROM tr WHERE trend IS NOT NULL
  GROUP BY user_id, phase
), cen AS (
  SELECT user_id, phase,
         raw_idx
         - CAST(sum(CAST(floor(raw_idx * 1000000000000.0 + 0.5)
                           / 1000000000000.0
                         AS DECIMAL(38, 12))) OVER pk AS DOUBLE)
           / count(*) OVER pk AS seasonal
  FROM idx
  WINDOW pk AS (PARTITION BY user_id)
)
SELECT t.event_id, t.user_id,
       floor(t.trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
       floor(c.seasonal * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
       floor((t.v6 - t.trend - c.seasonal) * 1000000.0 + 0.5)
         / 1000000.0 AS remainder
FROM tr t LEFT JOIN cen c ON c.user_id = t.user_id AND c.phase = t.phase
"""


def _q_stl_strength(spark, sf_dir):
    """Wang-Smith-Hyndman decomposition-strength features per user at
    period 12 (operators/decompose.stl_strength): trend / seasonal
    strength from DECIMAL-exact variance sums over the decompose
    output — the decompose plan plus ONE same-key aggregate, all
    codegen."""
    from eristropy_spark.operators.decompose import stl_strength

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = stl_strength(ev, "user_id", period=12, tiebreak_col="event_id")
    return r.select(
        "user_id",
        "n_used",
        _r6("var_rem").alias("var_rem"),
        _r6("var_detrended").alias("var_detrended"),
        _r6("var_deseasonalized").alias("var_deseasonalized"),
        _r6("trend_strength").alias("trend_strength"),
        _r6("seasonal_strength").alias("seasonal_strength"),
    )


_ORACLE_STL_STRENGTH = """
WITH q AS (
  SELECT event_id, user_id, ts,
         floor(value * 1000000.0 + 0.5) / 1000000.0 AS v6,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS vd
  FROM events
), tr AS (
  SELECT event_id, user_id, v6,
         CASE WHEN count(vd) OVER wl = 12 AND count(vd) OVER wr = 12
              THEN CAST(sum(vd) OVER wl + sum(vd) OVER wr AS DOUBLE) / 24.0
         END AS trend,
         (row_number() OVER o - 1) % 12 AS phase
  FROM q
  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id),
         wl AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
         wr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
), idx AS (
  SELECT user_id, phase,
         CAST(sum(CAST(floor((v6 - trend) * 1000000000000.0 + 0.5)
                         / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE)
           / count(*) AS raw_idx
  FROM tr WHERE trend IS NOT NULL
  GROUP BY user_id, phase
), cen AS (
  SELECT user_id, phase,
         raw_idx
         - CAST(sum(CAST(floor(raw_idx * 1000000000000.0 + 0.5)
                           / 1000000000000.0
                         AS DECIMAL(38, 12))) OVER pk AS DOUBLE)
           / count(*) OVER pk AS seasonal
  FROM idx
  WINDOW pk AS (PARTITION BY user_id)
), dec AS (
  SELECT t.user_id,
         t.v6 - t.trend - c.seasonal AS r,
         c.seasonal AS s,
         t.trend AS tre
  FROM tr t JOIN cen c ON c.user_id = t.user_id AND c.phase = t.phase
  WHERE t.trend IS NOT NULL
), w AS (
  SELECT user_id,
         CAST(floor(r * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18, 6)) AS rq,
         CAST(floor((r + s) * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18, 6)) AS dsq,
         CAST(floor((r + tre) * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18, 6)) AS dtq
  FROM dec
), agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_used,
         sum(rq) AS sr, sum(rq * rq) AS qr,
         sum(dsq) AS ss, sum(dsq * dsq) AS qs,
         sum(dtq) AS st, sum(dtq * dtq) AS qt
  FROM w GROUP BY user_id
), v AS (
  SELECT user_id, n_used,
         (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
            / CAST(n_used AS DOUBLE)) / CAST(n_used AS DOUBLE) AS vr,
         (CAST(qs AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
            / CAST(n_used AS DOUBLE)) / CAST(n_used AS DOUBLE) AS vds,
         (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
            / CAST(n_used AS DOUBLE)) / CAST(n_used AS DOUBLE) AS vdt
  FROM agg
)
SELECT user_id, n_used,
       floor(vr * 1000000 + 0.5) / 1000000 AS var_rem,
       floor(vds * 1000000 + 0.5) / 1000000 AS var_detrended,
       floor(vdt * 1000000 + 0.5) / 1000000 AS var_deseasonalized,
       CASE WHEN vdt > 0.0 THEN
         floor(greatest(0.0, 1.0 - vr / vdt) * 1000000 + 0.5) / 1000000
       END AS trend_strength,
       CASE WHEN vds > 0.0 THEN
         floor(greatest(0.0, 1.0 - vr / vds) * 1000000 + 0.5) / 1000000
       END AS seasonal_strength
FROM v
"""


def _q_anomaly_episodes(spark, sf_dir):
    """Consecutive rolling-z excursions merged into one row per
    incident (operators/anomaly.anomaly_episodes): trailing 72 h
    z-score (the events table's median per-user cadence is ~7 h, so a
    72 h window holds ~6-10 points), |z| >= 1.5 flags, gaps-and-islands
    merge and a (key, island) aggregate — all on ONE keyed shuffle."""
    from eristropy_spark.operators.anomaly import anomaly_episodes

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = anomaly_episodes(
        ev, "user_id", window_sec=259200.0, threshold=1.5,
        min_points=3, tiebreak_col="event_id",
    )
    return r.select(
        "user_id", "start_ts", "end_ts", "n_points",
        _r6("peak_z").alias("peak_z"),
    )


_ORACLE_ANOMALY_EPISODES = """
WITH z AS (
  SELECT event_id, user_id, ts,
         CASE WHEN count(value) OVER w >= 3 AND stddev_samp(value) OVER w > 0
              THEN (value - avg(value) OVER w) / stddev_samp(value) OVER w
         END AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW)
), m AS (
  SELECT *, (z IS NOT NULL AND abs(z) >= 1.5) AS flag,
         row_number() OVER o AS rn,
         sum(CASE WHEN z IS NOT NULL AND abs(z) >= 1.5 THEN 1 ELSE 0 END)
           OVER orun AS rnf
  FROM z
  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id),
         orun AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
       count(*) AS n_points,
       floor(max(abs(z)) * 1000000.0 + 0.5) / 1000000.0 AS peak_z
FROM m WHERE flag
GROUP BY user_id, rn - rnf
"""


def _q_bm25(spark, sf_dir):
    """Okapi BM25 top-5 retrieval (operators/retrieval.bm25_topk) for a
    deterministic query batch: the 30 most frequent lowercased corpus
    tokens (count desc, token asc) dealt round-robin into 10 three-term
    queries.  Corpus tf/df/dl are two-phase hash aggregates; the query
    and corpus-stats sides broadcast; scoring shuffles ids only."""
    from eristropy_spark.operators.retrieval import bm25_topk

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(30)
    )
    wv = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    queries_df = vocab.select(
        ((F.row_number().over(wv) - F.lit(1)) % F.lit(10))
        .cast("long")
        .alias("query_id"),
        "token",
    )
    return bm25_topk(docs, queries_df, k=5)


_ORACLE_BM25 = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
), toks2 AS (
  SELECT doc_id, token FROM toks WHERE token <> ''
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM toks2 GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
), corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), vocab AS (
  SELECT token,
         row_number() OVER (ORDER BY cnt DESC, token) AS r
  FROM (SELECT token, count(*) AS cnt FROM toks2 GROUP BY token)
), q AS (
  SELECT CAST((r - 1) % 10 AS BIGINT) AS query_id, token
  FROM vocab WHERE r <= 30
), scored AS (
  SELECT q.query_id, tf.doc_id,
         floor(sum(
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl))
         ) * 1000000.0 + 0.5) / 1000000.0 AS score
  FROM tf
  JOIN q USING (token)
  JOIN dfreq d USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  GROUP BY q.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
"""


def _q_crosscorr(spark, sf_dir):
    """Lagged cross-correlation between event-type signals on a
    60-second grid, lags 0..5 (operators/crosscorr.crosscorr_pairs):
    grid aggregate -> in-row lag explode -> bucket equi-join ->
    co-moment aggregate; quadratic in SIGNALS only, never samples."""
    from eristropy_spark.operators.crosscorr import crosscorr_pairs

    ev = _events(spark, sf_dir).select(
        "ts", F.col("event_type").alias("source"), "value"
    )
    r = crosscorr_pairs(ev, bucket_sec=60, max_lag=5, min_overlap=3)
    return r.select(
        "source_a", "source_b", "lag", "n", _r6("ccf").alias("ccf")
    )


_ORACLE_CROSSCORR = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 60000000 AS bucket,
         avg(value) AS v
  FROM events GROUP BY event_type, epoch_us(ts) // 60000000
), j AS (
  SELECT a.source AS source_a, b.source AS source_b, l.lag,
         a.v AS va, b.v AS vb
  FROM grid a
  CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS lag) l
  JOIN grid b ON b.bucket = a.bucket + l.lag AND a.source < b.source
)
SELECT source_a, source_b, CAST(lag AS INT) AS lag,
       count(*) AS n,
       CASE WHEN stddev_samp(va) > 0 AND stddev_samp(vb) > 0 THEN
            floor((covar_samp(va, vb)
                   / (stddev_samp(va) * stddev_samp(vb)))
                  * 1000000.0 + 0.5) / 1000000.0
       END AS ccf
FROM j
GROUP BY source_a, source_b, lag
HAVING count(*) >= 3
"""


def _q_dominant_period(spark, sf_dir):
    """Dominant period per user by equal-n epoch folding over the
    candidate grid 2..16 samples (operators/period.dominant_period,
    Stellingwerf 1978 PDM / ANOVA form): exact integer fold sums, a
    bounded in-row grid explode, two map-side-combined aggregates —
    no trigonometry, so the scan is bit-reproducible across engines."""
    from eristropy_spark.operators.period import dominant_period

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = dominant_period(
        ev, "user_id", periods=range(2, 17), tiebreak_col="event_id"
    )
    return r.select("user_id", "period", "k", "strength")


_ORACLE_DOMINANT_PERIOD = """
WITH q AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000000.0 + 0.5) AS DECIMAL(19, 0)) AS xi
  FROM events
), pos AS (
  SELECT user_id, xi,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS t,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM q
), ex AS (
  SELECT user_id, xi, t, p.period, n // p.period AS k
  FROM pos
  CROSS JOIN (SELECT unnest(generate_series(2, 16)) AS period) p
  WHERE n // p.period >= 2 AND t < (n // p.period) * p.period
), ph AS (
  SELECT user_id, period, t % period AS phase,
         CAST(sum(xi) AS DECIMAL(19, 0)) AS s_ph,
         sum(xi * xi) AS u_ph,
         max(k) AS k
  FROM ex GROUP BY user_id, period, t % period
), ag AS (
  SELECT user_id, period,
         sum(s_ph * s_ph) AS q2,
         sum(CAST(s_ph AS DECIMAL(38, 0))) AS t_sum,
         sum(u_ph) AS u,
         max(k) AS k
  FROM ph GROUP BY user_id, period
), st AS (
  SELECT user_id, period, k,
         CASE WHEN CAST(u AS DOUBLE)
                   - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
                     / (CAST(k AS DOUBLE) * CAST(period AS DOUBLE)) > 0.0
              THEN (CAST(q2 AS DOUBLE) / CAST(k AS DOUBLE)
                    - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
                      / (CAST(k AS DOUBLE) * CAST(period AS DOUBLE)))
                   / (CAST(u AS DOUBLE)
                      - CAST(t_sum AS DOUBLE) * CAST(t_sum AS DOUBLE)
                        / (CAST(k AS DOUBLE) * CAST(period AS DOUBLE)))
         END AS strength
  FROM ag
), r AS (
  SELECT user_id, CAST(period AS INT) AS period, k,
         floor(strength * 1000000.0 + 0.5) / 1000000.0 AS s6,
         max(floor(strength * 1000000.0 + 0.5) / 1000000.0)
           OVER (PARTITION BY user_id) AS smax
  FROM st WHERE strength IS NOT NULL
), pick AS (
  SELECT user_id, period, k, s6,
         row_number() OVER (PARTITION BY user_id ORDER BY period ASC) AS rn
  FROM r WHERE s6 >= smax - 0.01
)
SELECT user_id, period, k, s6 AS strength FROM pick WHERE rn = 1
"""


def _q_percentile_rollup(spark, sf_dir):
    """Per-(source, hour) exact interpolated percentiles of event value
    — the continuous-aggregate shape for distribution metrics; Spark's
    percentile() and DuckDB's quantile_cont() are bit-identical."""
    from eristropy_spark.operators.rollup import percentile_rollup

    ev = read_parquet(_utc(spark), f"{sf_dir}/events.parquet").select(
        "ts", F.col("event_type").alias("source"), "value"
    )
    return percentile_rollup(ev, "hour", "value", probs=(0.5, 0.95, 0.99))


_ORACLE_PERCENTILE_ROLLUP = """
SELECT event_type AS source, date_trunc('hour', ts) AS bucket,
       floor((quantile_cont(value, 0.5)) * 1000000 + 0.5) / 1000000 AS p50,
       floor((quantile_cont(value, 0.95)) * 1000000 + 0.5) / 1000000 AS p95,
       floor((quantile_cont(value, 0.99)) * 1000000 + 0.5) / 1000000 AS p99,
       count(*) AS n
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → duplicate CLUSTERS via distributed connected
    components (min-label propagation, O(diameter) rounds).  Every doc
    appears; cluster_id = min doc_id of its component.  The oracle
    computes the transitive closure with a recursive CTE — a completely
    different algorithm."""
    from eristropy_spark.operators.cluster import dedup_clusters
    from eristropy_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return dedup_clusters(docs, pairs)


# pair CTE identical to _ORACLE_NGRAM_JACCARD (already hash-verified);
# the closure is a recursive CTE — a different algorithm than the
# Spark side's iterative label propagation
_ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE pairs AS (
  WITH w AS (
    SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
  ), sh AS (
    SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS shingle
    FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i)
  ), sizes AS (
    SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
  ), inter AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
    FROM sh x JOIN sh y USING (shingle)
    WHERE x.doc_id < y.doc_id
    GROUP BY 1, 2
  )
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes a ON a.doc_id = doc_a
  JOIN sizes b ON b.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (a.n_sh + b.n_sh - n_inter) >= 0.2
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.id
), comp AS (
  SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


def _q_dedup_clusters_lsh(spark, sf_dir):
    """The 100 TB clustering path: connected components over
    MinHash-LSH near-dup pairs (banded candidates, O(candidates)
    verification) instead of the exact all-pairs edge set.  The golden
    test (tests/test_cluster.py) pins that at sf0.01 it produces
    EXACTLY the same clusters as the exact path, so the exact-closure
    recursive-CTE oracle applies to this query verbatim."""
    from eristropy_spark.operators.cluster import dedup_clusters

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, k=64, bands=16, n=3, threshold=0.2)
    return dedup_clusters(docs, pairs)


def _q_md5_split(spark, sf_dir):
    """Deterministic leakage-safe split assignment over documents
    (train/val/test = 230/13/13 of the 256 md5-bucket space, keyed on
    doc_id) — stable across partitionings/engines, hence the oracle."""
    from eristropy_spark.operators.sampling import md5_split

    return md5_split(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "split"
    )


# two-hex-digit lexicographic order == numeric bucket order, so the
# oracle compares the raw md5 prefix against the cumulative-hex bounds
_ORACLE_MD5_SPLIT = """
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def _q_ngram_repetition(spark, sf_dir):
    """Gopher 2-gram repetition fraction per document (deterministic
    top-1 tie-break) — the repetition half of the published quality
    rules; the 25-word synthetic vocabulary gives a rich mix of
    repeated bigrams."""
    from eristropy_spark.operators.text import top_ngram_repetition

    return top_ngram_repetition(_docs(spark, sf_dir), n=2)


_ORACLE_NGRAM_REPETITION = """
WITH w AS (
  SELECT doc_id, length(text) AS n_len, string_split(text, ' ') AS ws
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(ws[i : i + 1], ' ') AS gram
  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i)
), counts AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2
), top AS (
  SELECT doc_id, gram, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, gram ASC) AS rk
  FROM counts
)
SELECT w.doc_id,
       coalesce(t.gram, '') AS top_gram,
       CAST(coalesce(t.cnt, 0) AS BIGINT) AS top_count,
       floor((coalesce(CAST(t.cnt * length(t.gram) AS DOUBLE) / w.n_len, 0.0))
             * 1000000 + 0.5) / 1000000 AS rep_frac
FROM w LEFT JOIN (SELECT * FROM top WHERE rk = 1) t USING (doc_id)
"""


def _q_chunk_text(spark, sf_dir):
    """Overlapping fixed-token-window chunking (window 32, stride 24,
    min tail 8) — the training-window prep step, all in-row (split →
    sequence → slice → posexplode), zero shuffle."""
    from eristropy_spark.operators.text import chunk_text

    return chunk_text(_docs(spark, sf_dir), window=32, stride=24,
                      min_tokens=8)


_ORACLE_CHUNK_TEXT = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), st AS (
  SELECT doc_id, ws, n,
         greatest(CAST(ceil((n - 32) / CAST(24 AS DOUBLE)) AS BIGINT) + 1, 1)
           AS n_starts
  FROM w
), ex AS (
  SELECT doc_id, ws, n, k, k * 24 + 1 AS s
  FROM st, LATERAL (SELECT unnest(generate_series(0, n_starts - 1)) AS k)
), kept AS (
  SELECT * FROM ex WHERE least(n - s + 1, 32) >= 8 OR s = 1
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS BIGINT)
         AS chunk_id,
       CAST(least(n - s + 1, 32) AS BIGINT) AS n_tokens,
       array_to_string(ws[s : s + 31], ' ') AS chunk_text
FROM kept
"""


def _q_pack_sequences(spark, sf_dir):
    """Sequence-packing manifest (seq_len 64, 4 md5 shards, 1 sep
    token, tails dropped) — the concat-and-split training-window step:
    per-shard prefix sum (partitioned window, no global order) +
    in-row explode over the pack range.  Pure integers, exactly
    reproducible (operators/packing.pack_sequences)."""
    from eristropy_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64, n_shards=4,
                          sep=1)


_ORACLE_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(((strpos('0123456789abcdef',
                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef',
                 substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 4
           AS INTEGER) AS shard
  FROM documents
), o AS (
  SELECT doc_id, n, shard,
         CAST(coalesce(sum(n + 1) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS off,
         CAST(sum(n + 1) OVER (PARTITION BY shard) AS BIGINT) AS tot
  FROM d
), ex AS (
  SELECT shard, doc_id, n, off, tot, p
  FROM o, LATERAL (SELECT unnest(generate_series(off // 64,
                                                 (off + n - 1) // 64)) AS p)
)
SELECT shard,
       CAST(p AS BIGINT) AS pack,
       doc_id,
       CAST(greatest(off, p * 64) - off + 1 AS BIGINT) AS seg_start,
       CAST(least(off + n, (p + 1) * 64) - greatest(off, p * 64) AS BIGINT)
         AS seg_len,
       CAST(greatest(off, p * 64) - p * 64 AS BIGINT) AS pack_pos
FROM ex
WHERE p < tot // 64
"""


def _q_mix_corpus(spark, sf_dir):
    """Deterministic corpus mixing: src0 upsampled 2.5x (the "N epochs
    of Wikipedia" move), src1 kept, src2/src3 down-sampled to 1/2 and
    1/4, all other sources dropped — one in-row md5 expression +
    bounded explode, no shuffle (operators/sampling.mix_corpus)."""
    from eristropy_spark.operators.sampling import mix_corpus

    return mix_corpus(
        _docs(spark, sf_dir),
        {"src0": 640, "src1": 256, "src2": 128, "src3": 64},
    ).select("doc_id", "source", "epoch")


_ORACLE_MIX_CORPUS = """
WITH d AS (
  SELECT doc_id, source,
         (strpos('0123456789abcdef',
             substring(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       + strpos('0123456789abcdef',
             substring(md5('mix' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
           AS bucket,
         CASE source WHEN 'src0' THEN 640 WHEN 'src1' THEN 256
                     WHEN 'src2' THEN 128 WHEN 'src3' THEN 64
                     ELSE 0 END AS rate
  FROM documents
), c AS (
  SELECT doc_id, source,
         rate // 256
           + CASE WHEN bucket < rate % 256 THEN 1 ELSE 0 END AS n_copies
  FROM d
)
SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
FROM c, LATERAL (SELECT unnest(generate_series(0, n_copies - 1)) AS e)
WHERE n_copies > 0
"""


def _q_build_vocab(spark, sf_dir):
    """Global top-20 vocabulary (count >= 2, ties by token asc) — the
    tokenizer-frequency-table step: explode + two-phase hash aggregate
    + TakeOrderedAndProject top-k, never a full sort
    (operators/text.build_vocab)."""
    from eristropy_spark.operators.text import build_vocab

    return build_vocab(_docs(spark, sf_dir), top_k=20, min_count=2)


_ORACLE_BUILD_VOCAB = """
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
HAVING count(*) >= 2
ORDER BY cnt DESC, token
LIMIT 20
"""


def _q_shuffle_corpus(spark, sf_dir):
    """Deterministic global training-order shuffle: salted-md5 shard +
    within-shard rank — the no-global-sort corpus permutation
    (operators/sampling.shuffle_corpus): one shard exchange, per-shard
    local sort, stable across partitionings/engines."""
    from eristropy_spark.operators.sampling import shuffle_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    return shuffle_corpus(docs, n_shards=16)


_ORACLE_SHUFFLE_CORPUS = """
WITH h AS (
  SELECT doc_id, md5('shuffle' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
)
SELECT doc_id,
       CAST(CAST(concat('0x', substring(hx, 1, 4)) AS INTEGER) % 16
            AS INTEGER) AS shard,
       CAST(row_number() OVER (
              PARTITION BY CAST(concat('0x', substring(hx, 1, 4)) AS INTEGER) % 16
              ORDER BY hx, CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS pos
FROM h
"""


def _q_unigram_logprob(spark, sf_dir):
    """Per-document mean unigram log-probability vs the corpus's own
    top-500 frequency table — the CCNet-style LM-quality proxy
    (operators/text.unigram_logprob): vocab + totals broadcast, text
    never shuffles, one doc-keyed aggregate."""
    from eristropy_spark.operators.text import build_vocab, unigram_logprob

    docs = _docs(spark, sf_dir)
    vocab = build_vocab(docs, top_k=500, min_count=2)
    r = unigram_logprob(docs, vocab, alpha=1.0)
    return r.select("doc_id", "n_tok", _r6("logprob").alias("logprob"))


_ORACLE_UNIGRAM_LOGPROB = """
WITH vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  HAVING count(*) >= 2
  ORDER BY cnt DESC, token
  LIMIT 500
), tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS N, CAST(count(*) AS DOUBLE) AS V
  FROM vocab
), toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       floor(avg(ln((coalesce(v.cnt, 0) + 1.0) / (tot.N + 1.0 * (tot.V + 1.0))))
             * 1000000 + 0.5) / 1000000 AS logprob
FROM toks t LEFT JOIN vocab v ON t.tok = v.token CROSS JOIN tot
GROUP BY t.doc_id
"""


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality terciles per source
    (operators/text.ccnet_buckets): 6-dp-quantized unigram LM score,
    exact interpolated tercile thresholds (percentile ≡ quantile_cont)
    — broadcast vocab, one doc-keyed join, ONE source-keyed window."""
    from eristropy_spark.operators.text import build_vocab, ccnet_buckets

    docs = _docs(spark, sf_dir)
    vocab = build_vocab(docs, top_k=500, min_count=2)
    r = ccnet_buckets(docs, vocab, alpha=1.0)
    return r.select("doc_id", "source", "n_tok", _r6("score").alias("score"), "bucket")


_ORACLE_CCNET_BUCKETS = """
WITH vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  HAVING count(*) >= 2
  ORDER BY cnt DESC, token
  LIMIT 500
), tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS N, CAST(count(*) AS DOUBLE) AS V
  FROM vocab
), toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), sc AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         floor(avg(ln((coalesce(v.cnt, 0) + 1.0)
                      / (tot.N + 1.0 * (tot.V + 1.0))))
               * 1000000 + 0.5) / 1000000 AS score
  FROM toks t LEFT JOIN vocab v ON t.tok = v.token CROSS JOIN tot
  GROUP BY t.doc_id
), j AS (
  SELECT s.doc_id, d.source, s.n_tok, s.score,
         quantile_cont(s.score, 1.0/3.0)
           OVER (PARTITION BY d.source) AS q13,
         quantile_cont(s.score, 2.0/3.0)
           OVER (PARTITION BY d.source) AS q23
  FROM sc s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, source, n_tok, score,
       CASE WHEN score >= q23 THEN 'head'
            WHEN score >= q13 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j
"""


def _q_fingerprint_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al. SIGMOD'03;
    k=5-gram hashes, window w=4, rightmost-minimum rule) — in-row
    codegen sketch, density 2/(w+1)
    (operators/fingerprint.fingerprint_winnow)."""
    from eristropy_spark.operators.fingerprint import fingerprint_winnow

    return fingerprint_winnow(_docs(spark, sf_dir), k=5, w=4)


def _q_duplicate_spans(spark, sf_dir):
    """Exact duplicate-span detection (the Lee et al. 2021 exact-
    substring dedup realized with gram hashes): corpus-repeated
    4-grams mark positions, islands merge to maximal spans
    (operators/fingerprint.duplicate_spans)."""
    from eristropy_spark.operators.fingerprint import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), k=4, min_count=2)


def _q_fingerprint_overlap(spark, sf_dir):
    """Winnow-sketch overlap detection (the MOSS detector): document
    pairs sharing >= 2 winnowing fingerprints, i.e. near-dup /
    containment candidates at sketch density 2/(w+1) instead of full
    n-gram density (operators/fingerprint.fingerprint_overlap)."""
    from eristropy_spark.operators.fingerprint import fingerprint_overlap

    return fingerprint_overlap(_docs(spark, sf_dir), k=5, w=4, min_shared=2)


def _gram_hash_cte(k: int) -> str:
    """Shared DuckDB CTE chain computing signed-64 polynomial k-gram
    hashes: g(doc_id, i, g) for gram positions i in [1, n-k+1] —
    replays fingerprint.py's wrapping fold (word hash = 15 md5 hex
    digits, FNV-prime polynomial mod 2^64)."""
    m64 = 1 << 64
    leads = ",\n         ".join(
        f"lead(wh, {j}) OVER win AS w{j}" for j in range(1, k)
    )
    poly = "wh"
    for j in range(1, k):
        poly = f"(({poly} * 1099511628211) % {m64} + w{j}) % {m64}"
    return f"""wds AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), wh AS (
  SELECT doc_id, n, i,
         CAST(CAST(concat('0x', substring(md5(ws[i]), 1, 15)) AS BIGINT)
              AS HUGEINT) AS wh
  FROM wds, LATERAL (SELECT unnest(generate_series(1, n)) AS i)
), gl AS (
  SELECT doc_id, n, i, wh, {leads}
  FROM wh WINDOW win AS (PARTITION BY doc_id ORDER BY i)
), g AS (
  SELECT doc_id, n, i,
         CASE WHEN h >= {1 << 63} THEN CAST(h - {m64} AS BIGINT)
              ELSE CAST(h AS BIGINT) END AS g
  FROM (SELECT doc_id, n, i, {poly} AS h
        FROM gl WHERE i <= n - {k - 1})
)"""


_ORACLE_FINGERPRINT_WINNOW = f"""
WITH {_gram_hash_cte(5)}, wins AS (
  SELECT doc_id, m, t
  FROM (SELECT doc_id, n - 4 AS m, greatest(n - 4 - 3, 1) AS n_t
        FROM wds WHERE n - 4 >= 1),
       LATERAL (SELECT unnest(generate_series(1, n_t)) AS t)
), cand AS (
  SELECT w.doc_id, w.t, g.i, g.g
  FROM wins w JOIN g ON g.doc_id = w.doc_id
                    AND g.i BETWEEN w.t AND w.t + 3
), mn AS (
  SELECT doc_id, t, min(g) AS mg FROM cand GROUP BY doc_id, t
), sel AS (
  SELECT c.doc_id, max(c.i) AS pos, m.mg AS fp
  FROM cand c JOIN mn m ON c.doc_id = m.doc_id AND c.t = m.t
                       AND c.g = m.mg
  GROUP BY c.doc_id, c.t, m.mg
)
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp FROM sel
"""


_ORACLE_FINGERPRINT_OVERLAP = f"""
WITH fwin AS ({_ORACLE_FINGERPRINT_WINNOW}),
fps AS (SELECT DISTINCT doc_id, fp FROM fwin)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""


_ORACLE_DUPLICATE_SPANS = f"""
WITH {_gram_hash_cte(4)}, dup AS (
  SELECT g FROM g GROUP BY g HAVING count(*) >= 2
), hits AS (
  SELECT doc_id, i FROM g WHERE g IN (SELECT g FROM dup)
), isl AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 4
              THEN 0 ELSE 1 END AS new
  FROM hits
), grp AS (
  SELECT doc_id, i,
         sum(new) OVER (PARTITION BY doc_id ORDER BY i) AS isl
  FROM isl
)
SELECT doc_id,
       CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(i) + 4 - min(i) AS BIGINT) AS n_tokens
FROM grp GROUP BY doc_id, isl
"""


def _q_apen(spark, sf_dir):
    """Approximate Entropy (Pincus 1991) per signal at m=1, r=0.2 over
    the z-normed tokenize layout (operators/apen.apen_points): the
    third regularity kernel next to SampEn/PermEn — published <=r
    predicate, self-matches included, sequential Phi folds so the
    O(n²) SQL replay matches bit-for-bit pre-rounding."""
    from eristropy_spark.operators.apen import apen_points

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = apen_points(tokens, array_col="tokens", keep_cols=("doc_id",),
                    m=1, r=0.2, normalize=True)
    return r.select("doc_id", "n", _r6("apen").alias("apen"))


_ORACLE_APEN = """
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
z AS (
  SELECT doc_id, i, n, tok,
         (tok - avg(tok) OVER d) / nullif(stddev_samp(tok) OVER d, 0) AS zv
  FROM seq
  WINDOW d AS (PARTITION BY doc_id)
),
z2 AS (
  SELECT *, lead(zv) OVER (PARTITION BY doc_id ORDER BY i) AS zv1 FROM z
),
ok AS (
  SELECT doc_id FROM z GROUP BY doc_id
  HAVING max(n) >= 3 AND count(zv) = max(n)
),
c1 AS (
  SELECT a.doc_id, a.i, a.n,
         count(*) FILTER (WHERE abs(a.zv - b.zv) <= 0.2) AS c
  FROM z2 a JOIN z2 b ON a.doc_id = b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM ok)
  GROUP BY a.doc_id, a.i, a.n
),
c2 AS (
  SELECT a.doc_id, a.i, a.n,
         count(*) FILTER (WHERE abs(a.zv - b.zv) <= 0.2
                            AND abs(a.zv1 - b.zv1) <= 0.2) AS c
  FROM z2 a JOIN z2 b ON a.doc_id = b.doc_id AND b.i <= b.n - 1
  WHERE a.i <= a.n - 1 AND a.doc_id IN (SELECT doc_id FROM ok)
  GROUP BY a.doc_id, a.i, a.n
),
phi1 AS (
  SELECT doc_id,
         sum(ln(CAST(c AS DOUBLE) / n) ORDER BY i) / max(n) AS phi
  FROM c1 GROUP BY doc_id
),
phi2 AS (
  SELECT doc_id,
         sum(ln(CAST(c AS DOUBLE) / (n - 1)) ORDER BY i) / max(n - 1) AS phi
  FROM c2 GROUP BY doc_id
)
SELECT d.doc_id, CAST(d.n AS INT) AS n,
       floor((p1.phi - p2.phi) * 1000000.0 + 0.5) / 1000000.0 AS apen
FROM (SELECT doc_id, max(n) AS n FROM seq GROUP BY doc_id) d
LEFT JOIN phi1 p1 USING (doc_id)
LEFT JOIN phi2 p2 USING (doc_id)
"""


def _q_fuzzyen(spark, sf_dir):
    """Fuzzy Entropy (Chen et al. 2007) per signal at m=2, r=0.2 over
    the z-normed tokenize layout (operators/fuzzyen.fuzzyen_points):
    the fourth regularity kernel next to SampEn/PermEn/ApEn — Gaussian
    membership over baseline-removed templates, 9-dp-quantized
    memberships summed as exact integers so the O(n²) SQL replay
    matches bit-for-bit pre-rounding."""
    from eristropy_spark.operators.fuzzyen import fuzzyen_points

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = fuzzyen_points(tokens, array_col="tokens", keep_cols=("doc_id",),
                       m=2, r=0.2, normalize=True)
    return r.select("doc_id", "n", _r6("fuzzyen").alias("fuzzyen"))


_ORACLE_FUZZYEN = """
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
z AS (
  SELECT doc_id, i, n, tok,
         (tok - avg(tok) OVER d) / nullif(stddev_samp(tok) OVER d, 0) AS zv
  FROM seq
  WINDOW d AS (PARTITION BY doc_id)
),
z2 AS (
  SELECT *,
         lead(zv, 1) OVER (PARTITION BY doc_id ORDER BY i) AS zv1,
         lead(zv, 2) OVER (PARTITION BY doc_id ORDER BY i) AS zv2
  FROM z
),
ok AS (
  SELECT doc_id FROM z GROUP BY doc_id
  HAVING max(n) >= 4 AND count(zv) = max(n)
),
u AS (
  SELECT doc_id, i, n,
         zv - (zv + zv1) / 2.0 AS a0,
         zv1 - (zv + zv1) / 2.0 AS a1,
         zv - (zv + zv1 + zv2) / 3.0 AS b0,
         zv1 - (zv + zv1 + zv2) / 3.0 AS b1,
         zv2 - (zv + zv1 + zv2) / 3.0 AS b2
  FROM z2
  WHERE i <= n - 2 AND doc_id IN (SELECT doc_id FROM ok)
),
s2 AS (
  SELECT x.doc_id, max(x.n) AS n,
         sum(CAST(floor(exp(-(greatest(abs(x.a0 - y.a0), abs(x.a1 - y.a1))
                             * greatest(abs(x.a0 - y.a0), abs(x.a1 - y.a1)))
                            / 0.2)
                        * 1000000000.0 + 0.5) / 1000000000.0
                  AS DECIMAL(10, 9))) AS sm,
         sum(CAST(floor(exp(-(greatest(abs(x.b0 - y.b0), abs(x.b1 - y.b1),
                                       abs(x.b2 - y.b2))
                             * greatest(abs(x.b0 - y.b0), abs(x.b1 - y.b1),
                                        abs(x.b2 - y.b2)))
                            / 0.2)
                        * 1000000000.0 + 0.5) / 1000000000.0
                  AS DECIMAL(10, 9))) AS sm1
  FROM u x JOIN u y ON x.doc_id = y.doc_id AND x.i <> y.i
  GROUP BY x.doc_id
),
val AS (
  SELECT doc_id, n,
         ln(CAST(sm AS DOUBLE)
            / CAST((n - 2) * (n - 3) AS DOUBLE))
         - ln(CAST(sm1 AS DOUBLE)
              / CAST((n - 2) * (n - 3) AS DOUBLE)) AS fz
  FROM s2
  WHERE CAST(sm AS DOUBLE) > 0 AND CAST(sm1 AS DOUBLE) > 0
)
SELECT d.doc_id, CAST(d.n AS INT) AS n,
       floor(v.fz * 1000000.0 + 0.5) / 1000000.0 AS fuzzyen
FROM (SELECT doc_id, max(n) AS n FROM seq GROUP BY doc_id) d
LEFT JOIN val v USING (doc_id)
"""


def _q_wavelet_entropy(spark, sf_dir):
    """Haar wavelet energy spectrum + wavelet entropy per signal
    (operators/wavelet.wavelet_entropy; Rosso et al. 2001): exact
    integer octave energies (block sums, no trig), ascending-level
    ordered folds — zero extra shuffle, one Arrow boundary."""
    from eristropy_spark.operators.wavelet import wavelet_entropy

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = wavelet_entropy(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "n_levels",
        _r6("h_wavelet").alias("h_wavelet"),
        "dominant_level",
        _r6("p_dominant").alias("p_dominant"),
    )


_ORACLE_WAVELET = """
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS BIGINT) AS tok,
         row_number() OVER w - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), lv AS (
  SELECT s.doc_id, s.n, s.i, s.tok, l.k
  FROM seq s, LATERAL (SELECT unnest(generate_series(1, 12)) AS k) l
  WHERE (CAST(1 AS BIGINT) << l.k) <= s.n
    AND s.i < (s.n // (CAST(1 AS BIGINT) << l.k))
                * (CAST(1 AS BIGINT) << l.k)
), halves AS (
  SELECT doc_id, k,
         i // (CAST(1 AS BIGINT) << k) AS blk,
         (i % (CAST(1 AS BIGINT) << k))
            < (CAST(1 AS BIGINT) << (k - 1)) AS left_half,
         tok
  FROM lv
), blocks AS (
  SELECT doc_id, k, blk,
         CAST(sum(CASE WHEN left_half THEN tok ELSE 0 END)
              - sum(CASE WHEN left_half THEN 0 ELSE tok END)
              AS HUGEINT) AS d
  FROM halves GROUP BY doc_id, k, blk
), energy AS (
  SELECT doc_id, k,
         CAST(sum(d * d) AS DOUBLE)
           / CAST(CAST(1 AS BIGINT) << k AS DOUBLE) AS e
  FROM blocks GROUP BY doc_id, k
), tot AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_levels,
         sum(e ORDER BY k) AS total
  FROM energy GROUP BY doc_id
), ent AS (
  SELECT e.doc_id,
         -sum(CASE WHEN e.e / t.total > 0.0
                   THEN (e.e / t.total) * ln(e.e / t.total) END
              ORDER BY e.k) AS h
  FROM energy e JOIN tot t USING (doc_id)
  WHERE t.total > 0.0
  GROUP BY e.doc_id
), dom AS (
  SELECT doc_id, k AS dominant_level, e
  FROM (SELECT doc_id, k, e,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY e DESC, k ASC) AS rn
        FROM energy) WHERE rn = 1
)
SELECT d.doc_id, CAST(d.n AS INT) AS n,
       coalesce(t.n_levels, 0) AS n_levels,
       floor(en.h * 1000000.0 + 0.5) / 1000000.0 AS h_wavelet,
       CASE WHEN t.total > 0.0 THEN CAST(dm.dominant_level AS INT)
       END AS dominant_level,
       CASE WHEN t.total > 0.0 THEN
         floor(dm.e / t.total * 1000000.0 + 0.5) / 1000000.0
       END AS p_dominant
FROM (SELECT doc_id, max(n) AS n FROM seq GROUP BY doc_id) d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN ent en USING (doc_id)
LEFT JOIN dom dm USING (doc_id)
"""


def _q_gpd_tail(spark, sf_dir):
    """GPD peaks-over-threshold tail fit per source (operators/tails.
    gpd_pot; Hosking & Wallis 1987 PWM estimators): exact interpolated
    q=0.9 threshold, weighted exceedance terms quantized to exact
    integers before order-free summation, xi/sigma closed forms — ONE
    keyed Exchange, no Python."""
    from eristropy_spark.operators.tails import gpd_pot

    ev = _events(spark, sf_dir)
    r = gpd_pot(ev.select(F.col("event_type").alias("source"), "value",
                          "event_id"),
                "source", q=0.9, min_k=10, tiebreak_cols=("event_id",))
    return r.select(
        "source",
        "n",
        _r6("u").alias("u"),
        "k",
        _r6("b0").alias("b0"),
        _r6("b1").alias("b1"),
        _r6("xi").alias("xi"),
        _r6("sigma").alias("sigma"),
    )


_ORACLE_GPD_TAIL = """
WITH pts AS (
  SELECT event_type AS source, CAST(value AS DOUBLE) AS v, event_id
  FROM events
), th AS (
  SELECT source, quantile_cont(v, 0.9) AS u, count(*) AS n
  FROM pts GROUP BY source
), ex AS (
  SELECT p.source, t.n, t.u, p.v - t.u AS y,
         row_number() OVER (PARTITION BY p.source
                            ORDER BY p.v, p.event_id) AS j,
         count(*) OVER (PARTITION BY p.source) AS k
  FROM pts p JOIN th t USING (source) WHERE p.v > t.u
), terms AS (
  SELECT source, n, u, k,
         CAST(floor(y * 1000000.0 + 0.5) AS HUGEINT) AS t0,
         CAST(floor((CASE WHEN k > 1
                          THEN CAST(k - j AS DOUBLE)
                               / CAST(k - 1 AS DOUBLE)
                          ELSE 0.0 END * y)
                    * 1000000.0 + 0.5) AS HUGEINT) AS t1
  FROM ex
), agg AS (
  SELECT source, max(n) AS n, max(u) AS u, max(k) AS k,
         (CAST(sum(t0) AS DOUBLE) / 1000000.0)
           / CAST(max(k) AS DOUBLE) AS b0,
         (CAST(sum(t1) AS DOUBLE) / 1000000.0)
           / CAST(max(k) AS DOUBLE) AS b1
  FROM terms GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n,
       floor(u * 1000000.0 + 0.5) / 1000000.0 AS u,
       CAST(k AS BIGINT) AS k,
       CASE WHEN k >= 10 THEN
         floor(b0 * 1000000.0 + 0.5) / 1000000.0 END AS b0,
       CASE WHEN k >= 10 THEN
         floor(b1 * 1000000.0 + 0.5) / 1000000.0 END AS b1,
       CASE WHEN k >= 10 AND b0 - 2.0 * b1 <> 0.0 THEN
         floor((2.0 - b0 / (b0 - 2.0 * b1)) * 1000000.0 + 0.5)
           / 1000000.0 END AS xi,
       CASE WHEN k >= 10 AND b0 - 2.0 * b1 <> 0.0 THEN
         floor((2.0 * b0 * b1 / (b0 - 2.0 * b1)) * 1000000.0 + 0.5)
           / 1000000.0 END AS sigma
FROM agg
"""


def _q_gumbel(spark, sf_dir):
    """Block-maxima Gumbel PWM fit per source (operators/tails.
    gumbel_blockmax; Greenwood et al. 1979 / Hosking et al. 1985):
    hour-bucket maxima exact, each quantized to the 1e-6 grid before
    order-free DECIMAL sums, rank weights (j-1)*t0 exact integers,
    sigma/mu/100-block return level fixed float expressions — the
    annual-maxima EVT view next to gpd_tail's POT view.  One
    (key, block) aggregate + ONE keyed Exchange, zero Python."""
    from eristropy_spark.operators.tails import gumbel_blockmax

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    r = gumbel_blockmax(
        ev, "source", block_sec=3600, t_return=100.0, min_blocks=5
    )
    return r.select(
        "source",
        "m",
        _r6("b0").alias("b0"),
        _r6("b1").alias("b1"),
        _r6("mu").alias("mu"),
        _r6("sigma").alias("sigma"),
        _r6("return_level").alias("return_level"),
    )


_ORACLE_GUMBEL = """
WITH pts AS (
  SELECT event_type AS source, epoch_us(ts) // 3600000000 AS b,
         CAST(value AS DOUBLE) AS v
  FROM events
), bm AS (
  SELECT source, b, max(v) AS x FROM pts GROUP BY source, b
), ranked AS (
  SELECT source, x,
         row_number() OVER (PARTITION BY source ORDER BY x, b) AS j,
         CAST(floor(x * 1000000.0 + 0.5) AS HUGEINT) AS t0
  FROM bm
), agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS m,
         sum(t0) AS s0, sum(CAST(j - 1 AS HUGEINT) * t0) AS s1
  FROM ranked GROUP BY source
), st AS (
  SELECT source, m,
         (CAST(s0 AS DOUBLE) / 1000000.0) / CAST(m AS DOUBLE) AS b0,
         (CAST(s1 AS DOUBLE) / 1000000.0)
           / (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0)) AS b1
  FROM agg
), fit AS (
  SELECT source, m, b0, b1,
         (2.0 * b1 - b0) / 0.6931471805599453 AS sigma
  FROM st
), fit2 AS (
  SELECT source, m, b0, b1, sigma,
         b0 - 0.5772156649015329 * sigma AS mu
  FROM fit
)
SELECT source, m,
       CASE WHEN m >= 5 THEN floor(b0 * 1000000.0 + 0.5) / 1000000.0 END
         AS b0,
       CASE WHEN m >= 5 THEN floor(b1 * 1000000.0 + 0.5) / 1000000.0 END
         AS b1,
       CASE WHEN m >= 5 THEN floor(mu * 1000000.0 + 0.5) / 1000000.0 END
         AS mu,
       CASE WHEN m >= 5 THEN
         floor(sigma * 1000000.0 + 0.5) / 1000000.0 END AS sigma,
       CASE WHEN m >= 5 THEN
         floor((mu + sigma * 4.600149226776579) * 1000000.0 + 0.5) / 1000000.0 END
         AS return_level
FROM fit2
"""


def _q_extremal_index(spark, sf_dir):
    """Ferro-Segers intervals estimator of the extremal index per
    source (operators/tails.extremal_index; Ferro & Segers 2003): do
    exceedances of the exact q=0.95 quantile cluster?  Gaps and all
    four moment sums exact DECIMAL(38,0)/HUGEINT integers, theta ONE
    fixed float expression, capped at 1 — the persistence complement
    of the marginal tail fits.  ONE keyed Exchange, zero Python."""
    from eristropy_spark.operators.tails import extremal_index

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "event_id", "value"
    )
    r = extremal_index(
        ev, "source", q=0.95, tiebreak_cols=("event_id",)
    )
    return r.select(
        "source",
        "n",
        _r6("u").alias("u"),
        "n_exc",
        "max_gap",
        _r6("theta").alias("theta"),
    )


_ORACLE_EXTREMAL = """
WITH pts AS (
  SELECT event_type AS source, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS idx
  FROM events
), th AS (
  SELECT source, quantile_cont(v, 0.95) AS u, count(*) AS n
  FROM pts GROUP BY source
), ex AS (
  SELECT p.source, t.n, t.u, p.idx,
         p.idx - lag(p.idx) OVER (PARTITION BY p.source
                                  ORDER BY p.idx) AS gap
  FROM pts p JOIN th t USING (source) WHERE p.v > t.u
), agg AS (
  SELECT source, max(n) AS n, max(u) AS u,
         CAST(count(*) AS BIGINT) AS n_exc,
         CAST(max(gap) AS BIGINT) AS max_gap,
         sum(CAST(gap AS HUGEINT)) AS st,
         sum(CAST(gap AS HUGEINT) * gap) AS st2,
         sum(CAST(gap - 1 AS HUGEINT)) AS sm1,
         sum(CAST(gap - 1 AS HUGEINT) * (gap - 2)) AS sm12
  FROM ex GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n,
       floor(u * 1000000.0 + 0.5) / 1000000.0 AS u,
       n_exc, max_gap,
       CASE WHEN n_exc >= 2 AND
                 (CASE WHEN max_gap <= 2 THEN st2 > 0
                       ELSE sm12 > 0 END) THEN
         floor(least(1.0,
           CASE WHEN max_gap <= 2 THEN
             2.0 * CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
             / ((CAST(n_exc AS DOUBLE) - 1.0) * CAST(st2 AS DOUBLE))
           ELSE
             2.0 * CAST(sm1 AS DOUBLE) * CAST(sm1 AS DOUBLE)
             / ((CAST(n_exc AS DOUBLE) - 1.0) * CAST(sm12 AS DOUBLE))
           END) * 1000000.0 + 0.5) / 1000000.0 END AS theta
FROM agg
"""


def _q_hampel(spark, sf_dir):
    """Hampel rolling outlier filter per point (operators/robust.
    hampel_filter; Hampel 1974, Pearson 2005): centered truncated
    window w=5, exact interpolated window median + MAD (integer
    tokens → the 0.5/0.25 grids), k=3 consistency-scaled threshold,
    spike-replace cleaning.  Zero extra shuffle, one Arrow boundary;
    the oracle replays both medians via quantile_cont self-joins."""
    from eristropy_spark.operators.robust import hampel_filter

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = hampel_filter(tokens, array_col="tokens", keep_cols=("doc_id",),
                      half_width=5, k=3.0)
    return r.select("doc_id", "i", "x", "med", "mad", "is_outlier", "cleaned")


_ORACLE_HAMPEL = """
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS BIGINT) AS tok,
         row_number() OVER w - 1 AS i
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), med AS (
  SELECT s.doc_id, s.i, s.tok,
         quantile_cont(CAST(t.tok AS DOUBLE), 0.5) AS med
  FROM seq s JOIN seq t
    ON t.doc_id = s.doc_id AND t.i BETWEEN s.i - 5 AND s.i + 5
  GROUP BY s.doc_id, s.i, s.tok
), mad AS (
  SELECT m.doc_id, m.i, m.tok, m.med,
         quantile_cont(abs(CAST(t.tok AS DOUBLE) - m.med), 0.5) AS mad
  FROM med m JOIN seq t
    ON t.doc_id = m.doc_id AND t.i BETWEEN m.i - 5 AND m.i + 5
  GROUP BY m.doc_id, m.i, m.tok, m.med
)
SELECT doc_id, CAST(i AS INT) AS i, tok AS x, med, mad,
       abs(CAST(tok AS DOUBLE) - med)
         > (CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)) * mad
         AS is_outlier,
       CASE WHEN abs(CAST(tok AS DOUBLE) - med)
                 > (CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)) * mad
            THEN med ELSE CAST(tok AS DOUBLE) END AS cleaned
FROM mad
"""


def _q_spectral_entropy(spark, sf_dir):
    """Walsh–Hadamard power spectrum + spectral entropy per signal
    (operators/spectral.spectral_entropy_wht): ±1 basis → exact
    integer coefficients (no trig), DC-excluded AC power shares,
    ascending-j ordered folds — zero extra shuffle, one Arrow
    boundary.  The DuckDB oracle replays the literal transform via
    bit_count(i & j) parity."""
    from eristropy_spark.operators.spectral import spectral_entropy_wht

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = spectral_entropy_wht(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "n_fft",
        _r6("h_spectral").alias("h_spectral"),
        "dominant_j",
        _r6("p_dominant").alias("p_dominant"),
    )


_ORACLE_SPECTRAL = """
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS BIGINT) AS tok,
         row_number() OVER w - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), np AS (
  SELECT d.doc_id, d.n, coalesce(max(ks.k), 0) AS lg
  FROM (SELECT DISTINCT doc_id, n FROM seq) d
  LEFT JOIN (SELECT unnest(generate_series(1, 12)) AS k) ks
    ON (CAST(1 AS BIGINT) << ks.k) <= d.n
  GROUP BY d.doc_id, d.n
), coef AS (
  SELECT s.doc_id, js.j,
         CAST(sum(CASE WHEN bit_count(s.i & js.j) % 2 = 0
                       THEN s.tok ELSE -s.tok END) AS HUGEINT) AS c
  FROM seq s
  JOIN np ON np.doc_id = s.doc_id AND np.lg >= 1,
  LATERAL (SELECT unnest(generate_series(
             CAST(1 AS BIGINT),
             (CAST(1 AS BIGINT) << np.lg) - 1)) AS j) js
  WHERE s.i < (CAST(1 AS BIGINT) << np.lg)
  GROUP BY s.doc_id, js.j
), energy AS (
  SELECT doc_id, j, c * c AS e FROM coef
), tot AS (
  SELECT doc_id, sum(e) AS total FROM energy GROUP BY doc_id
), ent AS (
  SELECT e.doc_id,
         -sum(CASE WHEN CAST(e.e AS DOUBLE) / CAST(t.total AS DOUBLE) > 0.0
                   THEN (CAST(e.e AS DOUBLE) / CAST(t.total AS DOUBLE))
                        * ln(CAST(e.e AS DOUBLE) / CAST(t.total AS DOUBLE))
              END ORDER BY e.j) AS h
  FROM energy e JOIN tot t USING (doc_id)
  WHERE t.total > 0
  GROUP BY e.doc_id
), dom AS (
  SELECT doc_id, j AS dominant_j, e, total
  FROM (SELECT e.doc_id, e.j, e.e, t.total,
               row_number() OVER (PARTITION BY e.doc_id
                                  ORDER BY e.e DESC, e.j ASC) AS rn
        FROM energy e JOIN tot t USING (doc_id)
        WHERE t.total > 0) WHERE rn = 1
)
SELECT n.doc_id, CAST(n.n AS INT) AS n,
       CAST(CASE WHEN n.n >= 1 THEN (CAST(1 AS BIGINT) << n.lg)
                 ELSE 0 END AS INT) AS n_fft,
       floor(en.h * 1000000.0 + 0.5) / 1000000.0 AS h_spectral,
       CAST(dm.dominant_j AS INT) AS dominant_j,
       floor(CAST(dm.e AS DOUBLE) / CAST(dm.total AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS p_dominant
FROM np n
LEFT JOIN ent en USING (doc_id)
LEFT JOIN dom dm USING (doc_id)
"""


def _q_bubble(spark, sf_dir):
    """Bubble entropy (Manis et al. 2017) per signal at m=4 over the
    tokenize layout (operators/bubble.bubble_points): the rank-based,
    tolerance-free fifth regularity kernel — inversion counts and
    swap-histogram Σc² are exact integers, each Rényi-2 level one
    fixed float expression; zero extra shuffle, one Arrow boundary."""
    from eristropy_spark.operators.bubble import bubble_points

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = bubble_points(tokens, array_col="tokens", keep_cols=("doc_id",), m=4)
    return r.select(
        "doc_id",
        "n",
        _r6("h_m").alias("h_m"),
        _r6("h_m1").alias("h_m1"),
        _r6("bubble").alias("bubble"),
    )


_ORACLE_BUBBLE = """
WITH seq AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), led AS (
  SELECT doc_id, i, n, tok,
         lead(tok, 1) OVER o AS t1,
         lead(tok, 2) OVER o AS t2,
         lead(tok, 3) OVER o AS t3,
         lead(tok, 4) OVER o AS t4
  FROM seq
  WINDOW o AS (PARTITION BY doc_id ORDER BY i)
), s4 AS (
  SELECT doc_id, n, CASE WHEN tok > t1 THEN 1 ELSE 0 END + CASE WHEN tok > t2 THEN 1 ELSE 0 END + CASE WHEN tok > t3 THEN 1 ELSE 0 END + CASE WHEN t1 > t2 THEN 1 ELSE 0 END + CASE WHEN t1 > t3 THEN 1 ELSE 0 END + CASE WHEN t2 > t3 THEN 1 ELSE 0 END AS sw
  FROM led WHERE i <= n - 3
), s5 AS (
  SELECT doc_id, n, CASE WHEN tok > t1 THEN 1 ELSE 0 END + CASE WHEN tok > t2 THEN 1 ELSE 0 END + CASE WHEN tok > t3 THEN 1 ELSE 0 END + CASE WHEN tok > t4 THEN 1 ELSE 0 END + CASE WHEN t1 > t2 THEN 1 ELSE 0 END + CASE WHEN t1 > t3 THEN 1 ELSE 0 END + CASE WHEN t1 > t4 THEN 1 ELSE 0 END + CASE WHEN t2 > t3 THEN 1 ELSE 0 END + CASE WHEN t2 > t4 THEN 1 ELSE 0 END + CASE WHEN t3 > t4 THEN 1 ELSE 0 END AS sw
  FROM led WHERE i <= n - 4
), h4 AS (
  SELECT doc_id, max(n) AS n,
         -ln(CAST(sum(c * c) AS DOUBLE)
             / (CAST(max(n) - 3 AS DOUBLE) * CAST(max(n) - 3 AS DOUBLE)))
           AS h
  FROM (SELECT doc_id, max(n) AS n, sw, CAST(count(*) AS BIGINT) AS c
        FROM s4 GROUP BY doc_id, sw)
  GROUP BY doc_id
), h5 AS (
  SELECT doc_id,
         -ln(CAST(sum(c * c) AS DOUBLE)
             / (CAST(max(n) - 4 AS DOUBLE) * CAST(max(n) - 4 AS DOUBLE)))
           AS h
  FROM (SELECT doc_id, max(n) AS n, sw, CAST(count(*) AS BIGINT) AS c
        FROM s5 GROUP BY doc_id, sw)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(d.n AS INT) AS n,
       CASE WHEN d.n >= 5 THEN
         floor(a.h * 1000000.0 + 0.5) / 1000000.0 END AS h_m,
       CASE WHEN d.n >= 5 THEN
         floor(b.h * 1000000.0 + 0.5) / 1000000.0 END AS h_m1,
       CASE WHEN d.n >= 5 THEN
         floor((b.h - a.h) / ln(5.0 / 3.0) * 1000000.0 + 0.5) / 1000000.0
       END AS bubble
FROM (SELECT doc_id, max(n) AS n FROM seq GROUP BY doc_id) d
LEFT JOIN h4 a USING (doc_id)
LEFT JOIN h5 b USING (doc_id)
"""


def _q_seasonal_mk(spark, sf_dir):
    """Seasonal Mann-Kendall trend test per signal at period 6
    (operators/robust.seasonal_mann_kendall; Hirsch & Slack 1984):
    phase-stratified S and tie-corrected variance, exact integers
    until the final /18 and z — zero extra shuffle, one Arrow
    boundary."""
    from eristropy_spark.operators.robust import seasonal_mann_kendall

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = seasonal_mann_kendall(
        tokens, period=6, array_col="tokens", keep_cols=("doc_id",)
    )
    return r.select(
        "doc_id",
        "n",
        "period",
        "s",
        _r6("var_s").alias("var_s"),
        _r6("z").alias("z"),
    )


_ORACLE_SEASONAL_MK = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         (row_number() OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) - 1) AS i
  FROM events
), ph AS (
  SELECT doc_id, tok, i, i % 6 AS g FROM pts
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
), sgn AS (
  SELECT a.doc_id,
         CAST(sum(CASE WHEN b.tok > a.tok THEN 1
                       WHEN b.tok < a.tok THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM ph a JOIN ph b ON b.doc_id = a.doc_id AND b.g = a.g AND b.i > a.i
  GROUP BY a.doc_id
), phase_n AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS ng
  FROM ph GROUP BY doc_id, g
), ties AS (
  SELECT doc_id, g,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT doc_id, g, tok, CAST(count(*) AS BIGINT) AS t
        FROM ph GROUP BY doc_id, g, tok)
  GROUP BY doc_id, g
), var_num AS (
  SELECT p.doc_id,
         CAST(sum(p.ng * (p.ng - 1) * (2 * p.ng + 5) - t.tie_term)
              AS BIGINT) AS num
  FROM phase_n p JOIN ties t ON t.doc_id = p.doc_id AND t.g = p.g
  GROUP BY p.doc_id
), st AS (
  SELECT n.doc_id, n.n, s.s,
         CASE WHEN s.s IS NOT NULL THEN v.num / 18.0 END AS var_s
  FROM nn n LEFT JOIN sgn s USING (doc_id) LEFT JOIN var_num v USING (doc_id)
)
SELECT doc_id, n, CAST(6 AS INT) AS period, s,
       floor(var_s * 1000000 + 0.5) / 1000000 AS var_s,
       floor((CASE WHEN var_s IS NULL THEN NULL
                   WHEN var_s <= 0 THEN NULL
                   WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                   WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                   ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS z
FROM st
"""


def _q_hurst(spark, sf_dir):
    """Hurst exponent by R/S analysis per USER series (all that user's
    events in time order — long enough for >= 2 dyadic sizes at sf0.01,
    unlike the per-(user,type) split): operators/hurst.hurst_points,
    quantize-then-fit so the full SQL replay is exact."""
    from eristropy_spark.operators.hurst import hurst_points

    ev = _events(spark, sf_dir)
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    per_user = (
        ev.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.transform(
                "seq", lambda s: F.round(s["value"] * 100).cast("int")
            ).alias("tokens"),
        )
    )
    r = hurst_points(per_user, array_col="tokens", keep_cols=("user_id",),
                     min_size=4)
    return r.select("user_id", "n", "n_sizes", _r6("hurst").alias("hurst"))


_ORACLE_HURST = """
WITH seq AS (
  SELECT user_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), docs AS (
  SELECT user_id, max(n) AS n FROM seq GROUP BY user_id
), sz AS (
  SELECT user_id, n, s
  FROM docs, LATERAL (SELECT unnest([4, 8, 16, 32, 64, 128, 256, 512,
                                     1024, 2048, 4096, 8192]) AS s)
  WHERE 2 * s <= n
), blk AS (
  SELECT q.user_id, z.s, CAST((q.i - 1) // z.s AS INT) AS b, q.i, q.tok
  FROM seq q JOIN sz z ON z.user_id = q.user_id
  WHERE q.i <= (q.n // z.s) * z.s
), bmu AS (
  SELECT user_id, s, b, CAST(sum(tok) AS DOUBLE) / s AS mu
  FROM blk GROUP BY user_id, s, b
), y AS (
  SELECT k.user_id, k.s, k.b, k.i, k.tok, m.mu,
         sum(k.tok - m.mu) OVER (PARTITION BY k.user_id, k.s, k.b
                                 ORDER BY k.i) AS y
  FROM blk k JOIN bmu m USING (user_id, s, b)
), brs AS (
  SELECT user_id, s, b,
         max(y) - min(y) AS r,
         stddev_samp(tok) AS sd
  FROM y GROUP BY user_id, s, b
), rs AS (
  SELECT user_id, s,
         floor(sum(r / sd ORDER BY b) / count(*) * 1000000.0 + 0.5)
             / 1000000.0 AS rsq
  FROM brs WHERE sd > 0 GROUP BY user_id, s
), pts AS (
  SELECT user_id, s, ln(CAST(s AS DOUBLE)) AS lx, ln(rsq) AS ly
  FROM rs WHERE rsq > 0
), fit AS (
  SELECT user_id,
         CAST(count(*) AS DOUBLE) AS k,
         CAST(count(*) AS INT) AS n_sizes,
         sum(lx ORDER BY s) AS sx, sum(ly ORDER BY s) AS sy,
         sum(lx * ly ORDER BY s) AS sxy, sum(lx * lx ORDER BY s) AS sxx
  FROM pts GROUP BY user_id
)
SELECT d.user_id, CAST(d.n AS INT) AS n,
       coalesce(f.n_sizes, 0) AS n_sizes,
       CASE WHEN f.n_sizes >= 2 AND (f.k * f.sxx - f.sx * f.sx) <> 0
            THEN floor((f.k * f.sxy - f.sx * f.sy)
                       / (f.k * f.sxx - f.sx * f.sx) * 1000000.0 + 0.5)
                 / 1000000.0
       END AS hurst
FROM docs d LEFT JOIN fit f USING (user_id)
"""


def _q_rolling_quantile(spark, sf_dir):
    """Trailing 600-second EXACT interpolated p50/p95 per user — the
    rolling latency-quantile monitoring primitive
    (operators/rolling.rolling_quantile): one keyed shuffle, bounded
    RANGE frame, interpolation identical to quantile_cont."""
    from eristropy_spark.operators.rolling import rolling_quantile

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = rolling_quantile(ev, "user_id", window_sec=600.0, probs=(0.5, 0.95))
    return r.select(
        "event_id",
        "user_id",
        _r6("roll_p50").alias("roll_p50"),
        _r6("roll_p95").alias("roll_p95"),
    )


_ORACLE_ROLLING_QUANTILE = """
SELECT event_id, user_id,
       floor(quantile_cont(value, 0.5) OVER w * 1000000 + 0.5) / 1000000
           AS roll_p50,
       floor(quantile_cont(value, 0.95) OVER w * 1000000 + 0.5) / 1000000
           AS roll_p95
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


def _q_theilsen(spark, sf_dir):
    """Theil–Sen robust trend per signal over the tokenize array layout
    (operators/robust.theilsen_trend): median of pairwise slopes +
    robust intercept, vectorized O(n²) numpy inside one mapInArrow
    boundary, zero extra shuffle.  Medians use the quantile_cont lerp
    form so the SQL replay is bit-identical."""
    from eristropy_spark.operators.robust import theilsen_trend

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = theilsen_trend(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        _r6("slope").alias("slope"),
        _r6("intercept").alias("intercept"),
    )


_ORACLE_THEILSEN = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
), sl AS (
  SELECT a.doc_id,
         quantile_cont((b.tok - a.tok) / CAST(b.i - a.i AS DOUBLE), 0.5)
             AS slope
  FROM pts a JOIN pts b ON b.doc_id = a.doc_id AND b.i > a.i
  GROUP BY a.doc_id
), ic AS (
  SELECT p.doc_id,
         quantile_cont(p.tok - s.slope * CAST(p.i AS DOUBLE), 0.5)
             AS intercept
  FROM pts p JOIN sl s USING (doc_id)
  GROUP BY p.doc_id
)
SELECT n.doc_id, n.n,
       floor(s.slope * 1000000 + 0.5) / 1000000 AS slope,
       floor(i.intercept * 1000000 + 0.5) / 1000000 AS intercept
FROM (SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id) n
LEFT JOIN sl s USING (doc_id)
LEFT JOIN ic i USING (doc_id)
"""


def _q_croston(spark, sf_dir):
    """Croston intermittent-demand forecast per signal over per-minute
    event counts (operators/intermittent.croston; Croston 1972 + the
    Syntetos–Boylan correction): two SES recursions updated only at
    demand buckets, zero-run gaps carried as exact integer intervals
    (never densified); every z/p/forecast double reproduced
    bit-for-bit by the oracle's recursive CTE."""
    from eristropy_spark.operators.intermittent import croston

    ev = _events(spark, sf_dir)
    r = croston(ev, ["user_id", "event_type"], alpha=0.1, bucket="minute")
    return r.select(
        F.concat_ws(":", "user_id", "event_type").alias("doc_id"),
        "bucket_ts",
        "k",
        "x",
        "interval",
        _r6("z").alias("z"),
        _r6("p").alias("p"),
        _r6("croston").alias("croston"),
        _r6("sba").alias("sba"),
    )


_ORACLE_CROSTON = """
WITH RECURSIVE b AS (
  SELECT user_id || ':' || event_type AS doc_id,
         date_trunc('minute', ts) AS bucket_ts,
         count(*) AS x
  FROM events GROUP BY 1, 2
), pts AS (
  SELECT doc_id, bucket_ts, x,
         row_number() OVER w AS k,
         CAST(coalesce(CAST(epoch(bucket_ts) AS BIGINT) // 60
                       - CAST(epoch(lag(bucket_ts) OVER w) AS BIGINT) // 60,
                       1) AS BIGINT) AS g
  FROM b WINDOW w AS (PARTITION BY doc_id ORDER BY bucket_ts)
), rec AS (
  SELECT doc_id, bucket_ts, k, x, g,
         CAST(x AS DOUBLE) AS z,
         CAST(g AS DOUBLE) AS p
  FROM pts WHERE k = 1
  UNION ALL
  SELECT q.doc_id, q.bucket_ts, q.k, q.x, q.g,
         -- literals CAST to DOUBLE: a bare 0.1 is DECIMAL in DuckDB,
         -- and DECIMAL*BIGINT is exact — one ulp off the engine's
         -- double recursion
         CAST(0.1 AS DOUBLE) * CAST(q.x AS DOUBLE)
           + (1.0 - CAST(0.1 AS DOUBLE)) * r.z AS z,
         CAST(0.1 AS DOUBLE) * CAST(q.g AS DOUBLE)
           + (1.0 - CAST(0.1 AS DOUBLE)) * r.p AS p
  FROM rec r JOIN pts q ON q.doc_id = r.doc_id AND q.k = r.k + 1
)
SELECT doc_id, bucket_ts, k, x, g AS interval,
       floor(z * 1000000.0 + 0.5) / 1000000.0 AS z,
       floor(p * 1000000.0 + 0.5) / 1000000.0 AS p,
       floor((z / p) * 1000000.0 + 0.5) / 1000000.0 AS croston,
       floor(((1.0 - 0.5 * CAST(0.1 AS DOUBLE)) * (z / p))
             * 1000000.0 + 0.5) / 1000000.0 AS sba
FROM rec
"""


def _q_holt(spark, sf_dir):
    """Holt linear-trend smoothing (alpha=0.5, beta=0.25) per user —
    the two-state sequential scan class, one grouped-Pandas stage
    (operators/smoothing.holt); every level/trend/fitted double is
    reproduced bit-for-bit by the oracle's recursive CTE."""
    from eristropy_spark.operators.smoothing import holt

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    r = holt(ev, "user_id", alpha=0.5, beta=0.25, tiebreak_col="event_id")
    return r.select(
        "event_id",
        "user_id",
        _r6("level").alias("level"),
        _r6("trend").alias("trend"),
        _r6("fitted").alias("fitted"),
    )


_ORACLE_HOLT = """
WITH RECURSIVE pts AS (
  SELECT user_id, event_id, value,
         row_number() OVER w AS i,
         lead(value) OVER w AS nxt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), rec AS (
  SELECT user_id, event_id, i,
         value AS level,
         nxt - value AS trend,
         CAST(NULL AS DOUBLE) AS fitted
  FROM pts WHERE i = 1
  UNION ALL
  SELECT p.user_id, p.event_id, p.i,
         0.5 * p.value + 0.5 * (r.level + r.trend) AS level,
         0.25 * ((0.5 * p.value + 0.5 * (r.level + r.trend)) - r.level)
             + 0.75 * r.trend AS trend,
         r.level + r.trend AS fitted
  FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.i = r.i + 1
)
SELECT user_id, event_id,
       floor(level * 1000000.0 + 0.5) / 1000000.0 AS level,
       floor(trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
       floor(fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted
FROM rec
"""


def _q_ar2(spark, sf_dir):
    """AR(2) Yule–Walker fit + one-step forecast per signal over the
    array layout (operators/acf.ar2_forecast): closed forms from
    6dp-quantized autocorrelations (the quantize-then-derive rule), so
    phi/forecast doubles are bit-reproducible in SQL."""
    from eristropy_spark.operators.acf import ar2_forecast

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = ar2_forecast(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "r1",
        "r2",
        _r6("phi1").alias("phi1"),
        _r6("phi2").alias("phi2"),
        _r6("forecast").alias("forecast"),
    )


_ORACLE_AR2 = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
), st AS (
  SELECT doc_id, sum(tok) / count(*) AS mu, CAST(count(*) AS INT) AS n
  FROM pts GROUP BY doc_id
), dev AS (
  SELECT p.doc_id, p.i, p.tok - s.mu AS d
  FROM pts p JOIN st s USING (doc_id)
), den AS (
  SELECT doc_id, sum(d * d) AS den FROM dev GROUP BY doc_id
), nums AS (
  SELECT a.doc_id,
         sum(CASE WHEN b.i = a.i + 1 THEN a.d * b.d END) AS num1,
         sum(CASE WHEN b.i = a.i + 2 THEN a.d * b.d END) AS num2
  FROM dev a JOIN dev b ON b.doc_id = a.doc_id
                       AND b.i BETWEEN a.i + 1 AND a.i + 2
  GROUP BY a.doc_id
), rr AS (
  SELECT s.doc_id, s.mu, s.n,
         CASE WHEN s.n >= 3 AND d.den > 0
              THEN floor(m.num1 / d.den * 1000000.0 + 0.5) / 1000000.0
         END AS r1,
         CASE WHEN s.n >= 3 AND d.den > 0
              THEN floor(m.num2 / d.den * 1000000.0 + 0.5) / 1000000.0
         END AS r2
  FROM st s LEFT JOIN den d USING (doc_id) LEFT JOIN nums m USING (doc_id)
), lasts AS (
  SELECT p.doc_id,
         max(CASE WHEN p.i = s.n - 1 THEN p.tok END) AS x1,
         max(CASE WHEN p.i = s.n - 2 THEN p.tok END) AS x2
  FROM pts p JOIN st s USING (doc_id) GROUP BY p.doc_id
), fit AS (
  SELECT r.doc_id, r.n, r.r1, r.r2,
         (r.r1 * (1.0 - r.r2)) / (1.0 - r.r1 * r.r1) AS phi1,
         (r.r2 - r.r1 * r.r1) / (1.0 - r.r1 * r.r1) AS phi2,
         r.mu, l.x1, l.x2
  FROM rr r JOIN lasts l USING (doc_id)
)
SELECT doc_id, n, r1, r2,
       floor(phi1 * 1000000.0 + 0.5) / 1000000.0 AS phi1,
       floor(phi2 * 1000000.0 + 0.5) / 1000000.0 AS phi2,
       floor((mu + phi1 * (x1 - mu) + phi2 * (x2 - mu)) * 1000000.0 + 0.5)
           / 1000000.0 AS forecast
FROM fit
"""


def _q_pacf(spark, sf_dir):
    """Partial autocorrelations at lags 1..3 per signal
    (operators/acf.pacf_points): Durbin-Levinson unrolled on 6-dp
    QUANTIZED autocorrelations (quantize-then-derive) — the Box-
    Jenkins AR-order identifier next to acf/ar2_forecast; zero extra
    shuffle, one Arrow boundary."""
    from eristropy_spark.operators.acf import pacf_points

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = pacf_points(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        _r6("r1").alias("r1"),
        _r6("r2").alias("r2"),
        _r6("r3").alias("r3"),
        _r6("pacf1").alias("pacf1"),
        _r6("pacf2").alias("pacf2"),
        _r6("pacf3").alias("pacf3"),
    )


_ORACLE_PACF = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
), st AS (
  SELECT doc_id, sum(tok) / count(*) AS mu, CAST(count(*) AS INT) AS n
  FROM pts GROUP BY doc_id
), dev AS (
  SELECT p.doc_id, p.i, p.tok - s.mu AS d
  FROM pts p JOIN st s USING (doc_id)
), den AS (
  SELECT doc_id, sum(d * d) AS den FROM dev GROUP BY doc_id
), nums AS (
  SELECT a.doc_id,
         sum(CASE WHEN b.i = a.i + 1 THEN a.d * b.d END) AS num1,
         sum(CASE WHEN b.i = a.i + 2 THEN a.d * b.d END) AS num2,
         sum(CASE WHEN b.i = a.i + 3 THEN a.d * b.d END) AS num3
  FROM dev a JOIN dev b ON b.doc_id = a.doc_id
                       AND b.i BETWEEN a.i + 1 AND a.i + 3
  GROUP BY a.doc_id
), rr AS (
  SELECT s.doc_id, s.n,
         CASE WHEN s.n >= 4 AND d.den > 0
              THEN floor(m.num1 / d.den * 1000000.0 + 0.5) / 1000000.0
         END AS r1,
         CASE WHEN s.n >= 4 AND d.den > 0
              THEN floor(m.num2 / d.den * 1000000.0 + 0.5) / 1000000.0
         END AS r2,
         CASE WHEN s.n >= 4 AND d.den > 0
              THEN floor(m.num3 / d.den * 1000000.0 + 0.5) / 1000000.0
         END AS r3
  FROM st s LEFT JOIN den d USING (doc_id) LEFT JOIN nums m USING (doc_id)
), p2 AS (
  SELECT doc_id, n, r1, r2, r3,
         CASE WHEN 1.0 - r1 * r1 <> 0.0
              THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS pacf2
  FROM rr
), p3 AS (
  SELECT doc_id, n, r1, r2, r3, pacf2,
         r1 - pacf2 * r1 AS phi21
  FROM p2
)
SELECT doc_id, n, r1, r2, r3,
       r1 AS pacf1,
       floor(pacf2 * 1000000.0 + 0.5) / 1000000.0 AS pacf2,
       CASE WHEN pacf2 IS NOT NULL
                 AND 1.0 - (phi21 * r1 + pacf2 * r2) <> 0.0
            THEN floor((r3 - (phi21 * r2 + pacf2 * r1))
                       / (1.0 - (phi21 * r1 + pacf2 * r2))
                       * 1000000.0 + 0.5) / 1000000.0
       END AS pacf3
FROM p3
"""


def _q_pmi(spark, sf_dir):
    """Top-40 bigram collocations by PMI over the document corpus
    (operators/corpus.pmi_collocations): in-row bigram enumeration,
    two-phase counts, token-keyed joins, deterministic quantized
    ranking."""
    from eristropy_spark.operators.corpus import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), min_count=5, top_k=40)


_ORACLE_PMI = """
WITH uni AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), uc AS (
  SELECT token, count(*) AS cnt FROM uni GROUP BY token
), w AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), bi AS (
  SELECT ws[i] AS x, ws[i + 1] AS y
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
  WHERE len(ws) >= 2
), bc AS (
  SELECT x, y, count(*) AS cnt FROM bi GROUP BY x, y
  HAVING count(*) >= 5
), tot AS (
  SELECT (SELECT CAST(sum(cnt) AS DOUBLE) FROM uc) AS nu,
         (SELECT CAST(sum(cnt) AS DOUBLE) FROM bc) AS nbi
)
SELECT bc.x, bc.y, CAST(bc.cnt AS BIGINT) AS cnt,
       floor(ln((CAST(bc.cnt AS DOUBLE) * tot.nu * tot.nu)
                / (tot.nbi * CAST(cx.cnt AS DOUBLE) * CAST(cy.cnt AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS pmi
FROM bc
JOIN uc cx ON cx.token = bc.x
JOIN uc cy ON cy.token = bc.y
CROSS JOIN tot
ORDER BY pmi DESC, x, y
LIMIT 40
"""


def _q_corpus_divergence(spark, sf_dir):
    """Per-token KL/JS divergence terms between the train and val
    md5-split slices of the corpus (operators/corpus.corpus_divergence
    over operators/sampling.md5_split): the training-mix drift
    detector, token-keyed full-outer join + one-row totals broadcast."""
    from eristropy_spark.operators.corpus import corpus_divergence
    from eristropy_spark.operators.sampling import md5_split

    docs = md5_split(_docs(spark, sf_dir), "doc_id")
    a = docs.where(F.col("split") == "train").select("doc_id", "text")
    b = docs.where(F.col("split") == "val").select("doc_id", "text")
    return corpus_divergence(a, b, alpha=0.5)


_ORACLE_CORPUS_DIVERGENCE = """
WITH s AS (
  SELECT doc_id, text,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
  FROM documents
), ca AS (
  SELECT unnest(string_split(text, ' ')) AS token
  FROM s WHERE h < 'e6'
), cb AS (
  SELECT unnest(string_split(text, ' ')) AS token
  FROM s WHERE h >= 'e6' AND h < 'f3'
), gca AS (SELECT token, count(*) AS cnt FROM ca GROUP BY token),
gcb AS (SELECT token, count(*) AS cnt FROM cb GROUP BY token),
uab AS (
  SELECT coalesce(gca.token, gcb.token) AS token,
         coalesce(gca.cnt, 0) AS cnt_a,
         coalesce(gcb.cnt, 0) AS cnt_b
  FROM gca FULL OUTER JOIN gcb ON gca.token = gcb.token
), tot AS (
  SELECT CAST(sum(cnt_a) AS DOUBLE) AS na,
         CAST(sum(cnt_b) AS DOUBLE) AS nb,
         CAST(count(*) AS DOUBLE) AS v
  FROM uab
), pq AS (
  SELECT token, cnt_a, cnt_b,
         (CAST(cnt_a AS DOUBLE) + 0.5) / (tot.na + 0.5 * tot.v) AS p,
         (CAST(cnt_b AS DOUBLE) + 0.5) / (tot.nb + 0.5 * tot.v) AS q
  FROM uab CROSS JOIN tot
)
SELECT token,
       CAST(cnt_a AS BIGINT) AS cnt_a,
       CAST(cnt_b AS BIGINT) AS cnt_b,
       floor(p * 1000000.0 + 0.5) / 1000000.0 AS p_a,
       floor(q * 1000000.0 + 0.5) / 1000000.0 AS p_b,
       floor(p * ln(p / q) * 1000000.0 + 0.5) / 1000000.0 AS kl_ab,
       floor((0.5 * p * ln(p / (0.5 * (p + q)))
              + 0.5 * q * ln(q / (0.5 * (p + q)))) * 1000000.0 + 0.5)
           / 1000000.0 AS js
FROM pq
"""




# ------------------------------------------------- round-5 batch: trend
# tests, distribution entropies, visualization downsample, drawdown


def _q_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotonic-trend test per signal
    (operators/robust.mann_kendall): exact-integer S + tie-corrected
    variance, vectorized O(n²) sign census inside one mapInArrow
    boundary — zero shuffle beyond tokenize's own."""
    from eristropy_spark.operators.robust import mann_kendall

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = mann_kendall(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "s",
        "var_s",
        _r6("z").alias("z"),
        _r6("tau").alias("tau"),
    )


_ORACLE_MANN_KENDALL = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
), sgn AS (
  SELECT a.doc_id,
         CAST(sum(CASE WHEN b.tok > a.tok THEN 1
                       WHEN b.tok < a.tok THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM pts a JOIN pts b ON b.doc_id = a.doc_id AND b.i > a.i
  GROUP BY a.doc_id
), ties AS (
  SELECT doc_id,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS t
        FROM pts GROUP BY doc_id, tok)
  GROUP BY doc_id
), st AS (
  SELECT n.doc_id, n.n, s.s,
         CASE WHEN n.n < 2 THEN NULL
              ELSE (CAST(n.n AS BIGINT) * (n.n - 1) * (2 * n.n + 5)
                    - t.tie_term) / 18.0 END AS var_s
  FROM nn n LEFT JOIN sgn s USING (doc_id) LEFT JOIN ties t USING (doc_id)
)
SELECT doc_id, n, s, var_s,
       floor((CASE WHEN var_s IS NULL THEN NULL
                   WHEN var_s <= 0 THEN NULL
                   WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                   WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                   ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS z,
       floor((s / (n * (n - 1) / 2.0)) * 1000000 + 0.5) / 1000000 AS tau
FROM st
"""


def _q_pettitt(spark, sf_dir):
    """Pettitt rank-based change-point test per signal
    (operators/changepoint.pettitt): exact-integer U_t prefix
    statistics inside one mapInArrow boundary; the single exp() in the
    p-value is the only float op."""
    from eristropy_spark.operators.changepoint import pettitt

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = pettitt(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "k_stat",
        "t_star",
        "u_at_t",
        _r6("p_approx").alias("p_approx"),
    )


_ORACLE_PETTITT = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
), cv AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM pts GROUP BY doc_id, tok
), cl AS (
  SELECT doc_id, tok, c,
         CAST(sum(c) OVER (PARTITION BY doc_id ORDER BY tok)
              AS BIGINT) - c AS less
  FROM cv
), si AS (
  SELECT p.doc_id, p.i, 2 * cl.less - nn.n + cl.c AS s
  FROM pts p
  JOIN cl ON cl.doc_id = p.doc_id AND cl.tok = p.tok
  JOIN nn ON nn.doc_id = p.doc_id
), u AS (
  SELECT doc_id, i,
         CAST(sum(s) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS ut
  FROM si
), cand AS (
  SELECT u.doc_id, u.i, u.ut, abs(u.ut) AS au,
         row_number() OVER (PARTITION BY u.doc_id
                            ORDER BY abs(u.ut) DESC, u.i) AS rn
  FROM u JOIN nn ON nn.doc_id = u.doc_id
  WHERE u.i <= nn.n - 2
)
SELECT nn.doc_id, nn.n,
       c.au AS k_stat,
       CAST(c.i + 1 AS INT) AS t_star,
       c.ut AS u_at_t,
       floor(least(1.0, 2.0 * exp(-6.0 * (c.au * c.au)
             / CAST(CAST(nn.n AS BIGINT) * nn.n * nn.n
                    + CAST(nn.n AS BIGINT) * nn.n AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS p_approx
FROM nn LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (doc_id)
"""


def _q_renyi_entropy(spark, sf_dir):
    """Rényi entropy spectrum of each document's token histogram
    (operators/distribution.renyi_entropy): Shannon H1, collision H2,
    min-entropy, type-token ratio — two two-phase hash aggregates,
    DECIMAL-exact quantized sums, no Python anywhere."""
    from eristropy_spark.operators.distribution import renyi_entropy

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = renyi_entropy(tokens, array_col="tokens", id_col="doc_id")
    return r.select(
        "doc_id",
        "n_tok",
        "n_distinct",
        _r6("ttr").alias("ttr"),
        _r6("h_shannon").alias("h_shannon"),
        _r6("h_renyi2").alias("h_renyi2"),
        _r6("h_min").alias("h_min"),
    )


_ORACLE_RENYI = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok
  FROM events
), cv AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM pts GROUP BY doc_id, tok
), red AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS cmax,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS slog
  FROM cv GROUP BY doc_id
)
SELECT doc_id, n AS n_tok, n_distinct,
       floor(CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS ttr,
       floor((ln(CAST(n AS DOUBLE)) - slog / CAST(n AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS h_shannon,
       floor(-ln(CAST(s2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS h_renyi2,
       floor(-ln(CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS h_min
FROM red
"""


def _q_m4_downsample(spark, sf_dir):
    """M4 pixel-exact visualization downsample per (source, hour)
    (operators/rollup.m4_downsample): first/last/min/max points WITH
    their timestamps via min_by/max_by — ONE two-phase hash aggregate,
    mergeable states, no window functions."""
    from eristropy_spark.operators.rollup import m4_downsample

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "event_id", "value"
    )
    return m4_downsample(ev, "hour", tiebreak_col="event_id")


_ORACLE_M4 = """
WITH x AS (
  SELECT event_type AS source, date_trunc('hour', ts) AS bucket, ts, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY value, ts, event_id) AS rn_vmin,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY value DESC, ts DESC, event_id DESC)
             AS rn_vmax
  FROM events
)
SELECT source, bucket,
       max(CASE WHEN rn_a = 1 THEN ts END) AS t_first,
       max(CASE WHEN rn_a = 1 THEN value END) AS v_first,
       max(CASE WHEN rn_d = 1 THEN ts END) AS t_last,
       max(CASE WHEN rn_d = 1 THEN value END) AS v_last,
       max(CASE WHEN rn_vmin = 1 THEN ts END) AS t_min,
       max(CASE WHEN rn_vmin = 1 THEN value END) AS v_min,
       max(CASE WHEN rn_vmax = 1 THEN ts END) AS t_max,
       max(CASE WHEN rn_vmax = 1 THEN value END) AS v_max,
       CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY source, bucket
"""


def _q_max_drawdown(spark, sf_dir):
    """Per-user maximum drawdown (operators/rolling.max_drawdown):
    running-max window (O(1) streaming state) + per-key argmax via
    two-phase min_by — ONE per-key exchange, every double one exact
    arithmetic op."""
    from eristropy_spark.operators.rolling import max_drawdown

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return max_drawdown(ev, "user_id", tiebreak_col="event_id")


_ORACLE_MAX_DRAWDOWN = """
WITH x AS (
  SELECT user_id, ts, event_id, value,
         max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM events
), d AS (
  SELECT user_id, ts, event_id, value, peak, peak - value AS dd,
         max(peak - value) OVER (PARTITION BY user_id) AS maxdd,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM x
), f AS (
  SELECT user_id, n, peak, value, ts, maxdd,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM d WHERE dd = maxdd
)
SELECT user_id, CAST(n AS BIGINT) AS n, peak AS peak_value,
       value AS trough_value, ts AS trough_ts, maxdd AS max_drawdown
FROM f WHERE rn = 1
"""


def _q_zipf_fit(spark, sf_dir):
    """Zipf's-law OLS fit over the corpus top-300 unigram table
    (operators/corpus.zipf_fit): two-phase vocab count, TakeOrdered
    top-k, DECIMAL-exact quantized moment sums, closed-form fit."""
    from eristropy_spark.operators.corpus import zipf_fit

    docs = _docs(spark, sf_dir)
    r = zipf_fit(docs, top_k=300)
    return r.select(
        "n_tokens",
        _r6("slope").alias("slope"),
        _r6("intercept").alias("intercept"),
        _r6("r2").alias("r2"),
    )


_ORACLE_ZIPF = """
WITH vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  ORDER BY cnt DESC, token
  LIMIT 300
), ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank, cnt
  FROM vocab
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(floor(ln(CAST(cnt AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE))
                             * ln(CAST(rank AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(floor(ln(CAST(cnt AS DOUBLE))
                             * ln(CAST(cnt AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS syy,
         CAST(sum(CAST(floor(ln(CAST(rank AS DOUBLE))
                             * ln(CAST(cnt AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS sxy
  FROM ranked
)
SELECT k AS n_tokens,
       floor(((sxy - sx * sy / CAST(k AS DOUBLE))
              / (sxx - sx * sx / CAST(k AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS slope,
       floor((sy / CAST(k AS DOUBLE)
              - ((sxy - sx * sy / CAST(k AS DOUBLE))
                 / (sxx - sx * sx / CAST(k AS DOUBLE)))
                * (sx / CAST(k AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS intercept,
       floor((((sxy - sx * sy / CAST(k AS DOUBLE))
               * (sxy - sx * sy / CAST(k AS DOUBLE)))
              / ((sxx - sx * sx / CAST(k AS DOUBLE))
                 * (syy - sy * sy / CAST(k AS DOUBLE))))
             * 1000000 + 0.5) / 1000000 AS r2
FROM t
"""


def _q_ks_drift(spark, sf_dir):
    """Two-sample KS drift per signal (operators/drift.ks_drift):
    first-half vs second-half empirical CDFs, exact-integer sup
    statistic (|cumA·nB − cumB·nA|), one-term Smirnov bound — three
    keyed Exchanges, all streaming frames, no joins, no Python."""
    from eristropy_spark.operators.drift import ks_drift

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id", "value")
    r = ks_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "d_num",
        _r6("d").alias("d"),
        _r6("lambda_sq").alias("lambda_sq"),
        _r6("p_bound").alias("p_bound"),
    )


_ORACLE_KS_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type,
         CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         CAST(sum(cb) OVER w AS BIGINT) AS cumb
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT user_id, event_type, cuma, cumb,
         max(cuma) OVER (PARTITION BY user_id, event_type) AS na,
         max(cumb) OVER (PARTITION BY user_id, event_type) AS nb
  FROM cum
), red AS (
  SELECT user_id, event_type,
         max(na) AS n_ref, max(nb) AS n_cur,
         max(abs(cuma * nb - cumb * na)) AS d_num
  FROM tot GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_ref, n_cur, d_num,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor((CAST(d_num AS DOUBLE)
                / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 END AS d,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(((CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                 / (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE)))
                * (CAST(d_num AS DOUBLE)
                   / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)))
                * (CAST(d_num AS DOUBLE)
                   / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))))
               * 1000000 + 0.5) / 1000000 END AS lambda_sq,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(least(1.0, 2.0 * exp(-2.0
                 * ((CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                     / (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE)))
                    * (CAST(d_num AS DOUBLE)
                       / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)))
                    * (CAST(d_num AS DOUBLE)
                       / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))))))
               * 1000000 + 0.5) / 1000000 END AS p_bound
FROM red
"""


def _q_psi_drift(spark, sf_dir):
    """PSI drift per signal (operators/drift.psi_drift): 10 equal-width
    bins of the key's own range, Laplace-smoothed Jeffreys-divergence
    terms on the 12-dp DECIMAL grid, missing bins via the analytic
    closure — no joins, no scaffold rows, no Python."""
    from eristropy_spark.operators.drift import psi_drift

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id", "value")
    r = psi_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id", n_bins=10)
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "n_bins_used",
        _r6("psi").alias("psi"),
    )


_ORACLE_PSI_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n,
         min(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id, event_type) AS lo,
         max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id, event_type) AS hi
  FROM events
), binned AS (
  SELECT user_id, event_type, (i < n // 2) AS ref,
         CASE WHEN hi > lo THEN
           least(CAST(9 AS BIGINT),
                 CAST(floor((v - lo) * 10.0 / (hi - lo)) AS BIGINT))
         ELSE CAST(0 AS BIGINT) END AS bin
  FROM pts
), cv AS (
  SELECT user_id, event_type, bin,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM binned GROUP BY user_id, event_type, bin
), tot AS (
  SELECT user_id, event_type, ca, cb,
         CAST(sum(ca) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS na,
         CAST(sum(cb) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS nb
  FROM cv
), terms AS (
  SELECT user_id, event_type, na, nb,
         CAST(floor((((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0)
                      - (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0))
                     * ln(((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0))
                          / ((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0))))
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS term,
         floor(((0.5 / (CAST(na AS DOUBLE) + 5.0)
                 - 0.5 / (CAST(nb AS DOUBLE) + 5.0))
                * ln((0.5 / (CAST(na AS DOUBLE) + 5.0))
                     / (0.5 / (CAST(nb AS DOUBLE) + 5.0))))
               * 1000000000000.0 + 0.5) / 1000000000000.0 AS term0
  FROM tot
), red AS (
  SELECT user_id, event_type,
         max(na) AS n_ref, max(nb) AS n_cur,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(term) AS DOUBLE) AS s,
         max(term0) AS t0
  FROM terms GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_ref, n_cur, CAST(10 AS INT) AS n_bins_used,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor((s + (10.0 - CAST(m AS DOUBLE)) * t0) * 1000000 + 0.5)
         / 1000000 END AS psi
FROM red
"""


def _q_wasserstein(spark, sf_dir):
    """Exact 1-D Wasserstein-1 drift per signal
    (operators/drift.wasserstein_drift): first-half vs second-half
    earth-mover distance — the exact-integer KS CDF gap times the
    segment width, 12-dp DECIMAL segment sums.  Same shuffle shape as
    ks_drift: keyed windows + one census aggregate, no joins, no
    Python."""
    from eristropy_spark.operators.drift import wasserstein_drift

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id", "value")
    r = wasserstein_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("w1").alias("w1"),
    )


_ORACLE_WASSERSTEIN = """
WITH pts AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, v,
         CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         CAST(sum(cb) OVER w AS BIGINT) AS cumb,
         lead(v) OVER (PARTITION BY user_id, event_type ORDER BY v) AS vnext
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT user_id, event_type, v, vnext, cuma, cumb,
         max(cuma) OVER (PARTITION BY user_id, event_type) AS na,
         max(cumb) OVER (PARTITION BY user_id, event_type) AS nb
  FROM cum
), terms AS (
  SELECT user_id, event_type, na, nb,
         CASE WHEN vnext IS NOT NULL THEN
           CAST(floor(((CAST(abs(cuma * nb - cumb * na) AS DOUBLE)
                        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                       * (vnext - v))
                      * 1000000000000.0 + 0.5) / 1000000000000.0
                AS DECIMAL(38, 12)) END AS term
  FROM tot
), red AS (
  SELECT user_id, event_type,
         max(na) AS n_ref, max(nb) AS n_cur,
         CAST(sum(term) AS DOUBLE) AS w1d
  FROM terms GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_ref, n_cur,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(coalesce(w1d, 0.0) * 1000000 + 0.5) / 1000000 END AS w1
FROM red
"""


def _q_robust_scale(spark, sf_dir):
    """Robust location/scale census per signal
    (operators/robust.robust_scale): exact interpolated median + MAD
    (percentile ≡ quantile_cont bit-for-bit), 1.4826-scaled robust
    sigma, 3-sigma outlier counts — ONE keyed Exchange (two unbounded
    windows + a same-key groupBy), no joins, no Python."""
    from eristropy_spark.operators.robust import robust_scale

    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    r = robust_scale(ev, ("user_id", "event_type"), c=3.0)
    return r.select(
        "user_id",
        "event_type",
        "n",
        _r6("med").alias("med"),
        _r6("mad").alias("mad"),
        _r6("sigma_mad").alias("sigma_mad"),
        "n_outliers",
    )


_ORACLE_ROBUST_SCALE = """
WITH pts AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v FROM events
), med AS (
  SELECT user_id, event_type, quantile_cont(v, 0.5) AS med
  FROM pts GROUP BY user_id, event_type
), dev AS (
  SELECT p.user_id, p.event_type, p.v, m.med, abs(p.v - m.med) AS dev
  FROM pts p JOIN med m USING (user_id, event_type)
), mad AS (
  SELECT user_id, event_type, quantile_cont(dev, 0.5) AS mad
  FROM dev GROUP BY user_id, event_type
)
SELECT d.user_id, d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor(max(d.med) * 1000000 + 0.5) / 1000000 AS med,
       floor(max(a.mad) * 1000000 + 0.5) / 1000000 AS mad,
       floor((1.4826 * max(a.mad)) * 1000000 + 0.5) / 1000000 AS sigma_mad,
       CAST(sum(CASE WHEN d.dev > 3.0 * (1.4826 * a.mad) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d
JOIN mad a ON d.user_id = a.user_id AND d.event_type = a.event_type
GROUP BY d.user_id, d.event_type
"""


def _q_lexical_richness(spark, sf_dir):
    """Per-document lexical richness (operators/text.lexical_richness):
    TTR, hapax fraction, Yule's K from exact-integer (doc, word)
    counts — explode + two chained two-phase aggregates, text crosses
    the wire once."""
    from eristropy_spark.operators.text import lexical_richness

    r = lexical_richness(_docs(spark, sf_dir))
    return r.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        _r6("ttr").alias("ttr"),
        _r6("hapax_frac").alias("hapax_frac"),
        _r6("yule_k").alias("yule_k"),
    )


_ORACLE_LEXICAL_RICHNESS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, w
), agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(sum(c * c) AS BIGINT) AS m2
  FROM wc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       floor((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS ttr,
       floor((CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS hapax_frac,
       floor((10000.0 * (CAST(m2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
              / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS yule_k
FROM agg
"""


def _q_vocab_coverage(spark, sf_dir):
    """Good-Turing missing mass + Chao1 vocabulary floor per source
    (operators/corpus.vocab_coverage): exact frequency-of-frequencies
    profile, two chained two-phase aggregates, text shuffled once as
    words — no windows, no joins, no Python."""
    from eristropy_spark.operators.corpus import vocab_coverage

    r = vocab_coverage(_docs(spark, sf_dir))
    return r.select(
        "source",
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        _r6("p_unseen").alias("p_unseen"),
        _r6("chao1").alias("chao1"),
    )


_ORACLE_VOCAB_COVERAGE = """
WITH wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY source, w
), agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM wc GROUP BY source
)
SELECT source, n_tokens, n_types, f1, f2,
       floor((CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS p_unseen,
       floor((CAST(n_types AS DOUBLE)
              + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)))
             * 1000000 + 0.5) / 1000000 AS chao1
FROM agg
"""


def _q_token_novelty(spark, sf_dir):
    """Vocabulary-freshness curve (operators/corpus.token_novelty):
    per-doc count of corpus-first words in ingest (doc_id) order —
    distinct (doc, word) pairs, a word-keyed min window, a doc-keyed
    reduce; exact and deterministic."""
    from eristropy_spark.operators.corpus import token_novelty

    r = token_novelty(_docs(spark, sf_dir))
    return r.select(
        "doc_id",
        "n_types",
        "n_novel",
        _r6("novelty_frac").alias("novelty_frac"),
    )


_ORACLE_TOKEN_NOVELTY = """
WITH dw AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
), first AS (
  SELECT doc_id, w,
         min(doc_id) OVER (PARTITION BY w) AS fst
  FROM dw
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN fst = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM first GROUP BY doc_id
)
SELECT doc_id, n_types, n_novel,
       floor((CAST(n_novel AS DOUBLE) / CAST(n_types AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS novelty_frac
FROM agg
"""


def _q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit per source
    (operators/corpus.heaps_law): cumulative (tokens, types) curve in
    ingest order, 12-dp-quantized log-log points, DECIMAL-exact fit
    sums — word-keyed first-occurrence window + group-keyed cumulative
    windows, text shuffled once."""
    from eristropy_spark.operators.corpus import heaps_law

    r = heaps_law(_docs(spark, sf_dir))
    return r.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_types",
        _r6("beta").alias("beta"),
        _r6("k").alias("k"),
    )


_ORACLE_HEAPS_LAW = """
WITH tok AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), per_doc_tok AS (
  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS ntok
  FROM tok GROUP BY source, doc_id
), dw AS (
  SELECT DISTINCT source, doc_id, w FROM tok
), first AS (
  SELECT source, doc_id,
         min(doc_id) OVER (PARTITION BY source, w) AS fst
  FROM dw
), per_doc_new AS (
  SELECT source, doc_id,
         CAST(sum(CASE WHEN fst = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS nnew
  FROM first GROUP BY source, doc_id
), cum AS (
  SELECT t.source,
         CAST(sum(t.ntok) OVER w AS BIGINT) AS nd,
         CAST(sum(n.nnew) OVER w AS BIGINT) AS vd
  FROM per_doc_tok t
  JOIN per_doc_new n ON n.source = t.source AND n.doc_id = t.doc_id
  WINDOW w AS (PARTITION BY t.source ORDER BY t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pts AS (
  SELECT source, nd, vd,
         CAST(floor(ln(CAST(nd AS DOUBLE)) * 1000000000000.0 + 0.5)
              / 1000000000000.0 AS DECIMAL(14, 12)) AS x,
         CAST(floor(ln(CAST(vd AS DOUBLE)) * 1000000000000.0 + 0.5)
              / 1000000000000.0 AS DECIMAL(14, 12)) AS y
  FROM cum
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         max(nd) AS n_tokens,
         max(vd) AS n_types,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts GROUP BY source
), fit AS (
  SELECT source, n_docs, n_tokens, n_types,
         CAST(n_docs AS DOUBLE) AS m,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd
  FROM agg
), b AS (
  SELECT source, n_docs, n_tokens, n_types, m, sxd, syd,
         m * sxxd - sxd * sxd AS den,
         (m * sxyd - sxd * syd) / (m * sxxd - sxd * sxd) AS beta
  FROM fit
)
SELECT source, n_docs, n_tokens, n_types,
       CASE WHEN n_docs >= 2 AND den > 0.0 THEN
         floor(beta * 1000000 + 0.5) / 1000000 END AS beta,
       CASE WHEN n_docs >= 2 AND den > 0.0 THEN
         floor(exp((syd - beta * sxd) / m) * 1000000 + 0.5) / 1000000
       END AS k
FROM b
"""


def _q_cvm_drift(spark, sf_dir):
    """Two-sample Cramér-von Mises drift per signal
    (operators/drift.cvm_drift): accumulated squared CDF gap over the
    pooled census — exact DECIMAL(38,0) numerator (HUGEINT in the
    replay), Anderson's normalized t_adj; the ks_drift census shuffle
    shape, no joins, no Python."""
    from eristropy_spark.operators.drift import cvm_drift

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id", "value")
    r = cvm_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        F.col("s_num").cast("string").alias("s_num"),
        _r6("t_stat").alias("t_stat"),
        _r6("t_adj").alias("t_adj"),
    )


_ORACLE_CVM_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb,
         CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         CAST(sum(cb) OVER w AS BIGINT) AS cumb
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT user_id, event_type, ca, cb, cuma, cumb,
         max(cuma) OVER (PARTITION BY user_id, event_type) AS na,
         max(cumb) OVER (PARTITION BY user_id, event_type) AS nb
  FROM cum
), red AS (
  SELECT user_id, event_type,
         max(na) AS n_ref, max(nb) AS n_cur,
         sum(CAST(ca + cb AS HUGEINT)
             * (CAST(cuma * nb - cumb * na AS HUGEINT)
                * CAST(cuma * nb - cumb * na AS HUGEINT))) AS s
  FROM tot GROUP BY user_id, event_type
), vals AS (
  SELECT user_id, event_type, n_ref, n_cur, s,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb,
         CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE) AS nd
  FROM red
), st AS (
  SELECT user_id, event_type, n_ref, n_cur, s, na, nb, nd,
         CAST(s AS DOUBLE) / (nd * nd * (na * nb)) AS t,
         (1.0 + 1.0 / nd) / 6.0 AS e_t,
         (nd + 1.0) / (45.0 * nd * nd)
           * (4.0 * na * nb * nd - 3.0 * (na * na + nb * nb)
              - 2.0 * na * nb)
           / (4.0 * na * nb) AS var_t
  FROM vals
)
SELECT user_id, event_type, n_ref, n_cur,
       CAST(s AS VARCHAR) AS s_num,
       CASE WHEN n_ref >= 2 AND n_cur >= 2 THEN
         floor(t * 1000000 + 0.5) / 1000000 END AS t_stat,
       CASE WHEN n_ref >= 2 AND n_cur >= 2 AND var_t > 0.0 THEN
         floor((t - e_t) / sqrt(var_t) * 1000000 + 0.5) / 1000000
       END AS t_adj
FROM st
"""


def _q_cvar_tail(spark, sf_dir):
    """VaR / CVaR (expected shortfall) at 0.95 per signal
    (operators/tails.cvar_tail): exact interpolated quantile
    (percentile ≡ quantile_cont), DECIMAL-exact tail mean, POT mean
    excess — ONE keyed Exchange (window + same-key groupBy)."""
    from eristropy_spark.operators.tails import cvar_tail

    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    r = cvar_tail(ev, ("user_id", "event_type"), alpha=0.95)
    return r.select(
        "user_id",
        "event_type",
        "n",
        _r6("var_alpha").alias("var_alpha"),
        "n_exceed",
        _r6("cvar").alias("cvar"),
        _r6("mean_excess").alias("mean_excess"),
    )


_ORACLE_CVAR_TAIL = """
WITH pts AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v FROM events
), q AS (
  SELECT user_id, event_type, quantile_cont(v, 0.95) AS var_alpha
  FROM pts GROUP BY user_id, event_type
), j AS (
  SELECT p.user_id, p.event_type, p.v, q.var_alpha,
         (p.v >= q.var_alpha) AS tail,
         CAST(floor(p.v * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS vq
  FROM pts p JOIN q ON q.user_id = p.user_id
                   AND q.event_type = p.event_type
), agg AS (
  SELECT user_id, event_type,
         CAST(count(*) AS BIGINT) AS n,
         max(var_alpha) AS var_alpha,
         CAST(sum(CASE WHEN tail THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed,
         sum(CASE WHEN tail THEN vq END) AS tail_sum
  FROM j GROUP BY user_id, event_type
)
SELECT user_id, event_type, n,
       floor(var_alpha * 1000000 + 0.5) / 1000000 AS var_alpha,
       n_exceed,
       floor((CAST(tail_sum AS DOUBLE) / CAST(n_exceed AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS cvar,
       floor((CAST(tail_sum AS DOUBLE) / CAST(n_exceed AS DOUBLE)
              - var_alpha) * 1000000 + 0.5) / 1000000 AS mean_excess
FROM agg
"""


def _q_gini_balance(spark, sf_dir):
    """Gini coefficient of per-doc token counts per source
    (operators/sampling.gini_balance): the shard-balance statistic —
    exact-integer rank formulation, in-row token counting, ONE
    source-keyed Exchange."""
    from eristropy_spark.operators.sampling import gini_balance

    r = gini_balance(_docs(spark, sf_dir))
    return r.select(
        "source", "n_docs", "total_tok", _r6("gini").alias("gini")
    )


_ORACLE_GINI_BALANCE = """
WITH per_doc AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
), ranked AS (
  SELECT source, x,
         row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i
  FROM per_doc
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(x) AS BIGINT) AS total_tok,
         CAST(sum(i * x) AS BIGINT) AS ix
  FROM ranked GROUP BY source
)
SELECT source, n_docs, total_tok,
       CASE WHEN total_tok > 0 THEN
         floor((CAST(2 * ix - (n_docs + 1) * total_tok AS DOUBLE)
                / CAST(n_docs * total_tok AS DOUBLE))
               * 1000000 + 0.5) / 1000000 END AS gini
FROM agg
"""


def _q_theil(spark, sf_dir):
    """Theil T / Theil L (MLD) / Atkinson(1) inequality of per-doc
    token counts per source (operators/sampling.theil_inequality,
    Theil 1967): the DECOMPOSABLE complements of gini_balance for the
    corpus-mixing planner — T top-sensitive, L bottom-sensitive,
    A1 = 1 - exp(-L).  x and S exact integers; the two log sums carry
    12dp-quantized DECIMAL(38,12) terms (order-free); each index ONE
    fixed float expression.  In-row token count, ONE source-keyed
    map-side-combined aggregate, no window, no joins, zero Python."""
    from eristropy_spark.operators.sampling import theil_inequality

    r = theil_inequality(_docs(spark, sf_dir))
    return r.select(
        "source",
        "n_docs",
        "n_pos",
        "total_tok",
        _r6("theil_t").alias("theil_t"),
        _r6("theil_l").alias("theil_l"),
        _r6("atkinson_1").alias("atkinson_1"),
    )


_ORACLE_THEIL = """
WITH per_doc AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
  FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(x) AS BIGINT) AS total_tok,
         sum(CASE WHEN x > 0 THEN
               CAST(floor(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))
                          * 1000000000000.0 + 0.5) / 1000000000000.0
                    AS DECIMAL(38, 12))
             ELSE CAST(0.0 AS DECIMAL(38, 12)) END) AS xlx,
         sum(CASE WHEN x > 0 THEN
               CAST(floor(ln(CAST(x AS DOUBLE))
                          * 1000000000000.0 + 0.5) / 1000000000000.0
                    AS DECIMAL(38, 12))
             ELSE CAST(0.0 AS DECIMAL(38, 12)) END) AS lx
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_pos, total_tok,
       CASE WHEN n_pos > 0 AND total_tok > 0 THEN
         floor((CAST(xlx AS DOUBLE) / CAST(total_tok AS DOUBLE)
                - ln(CAST(total_tok AS DOUBLE) / CAST(n_pos AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 END AS theil_t,
       CASE WHEN n_pos > 0 AND total_tok > 0 THEN
         floor((ln(CAST(total_tok AS DOUBLE) / CAST(n_pos AS DOUBLE))
                - CAST(lx AS DOUBLE) / CAST(n_pos AS DOUBLE))
               * 1000000 + 0.5) / 1000000 END AS theil_l,
       CASE WHEN n_pos > 0 AND total_tok > 0 THEN
         floor((1.0 - exp(-(ln(CAST(total_tok AS DOUBLE)
                               / CAST(n_pos AS DOUBLE))
                            - CAST(lx AS DOUBLE)
                              / CAST(n_pos AS DOUBLE))))
               * 1000000 + 0.5) / 1000000 END AS atkinson_1
FROM agg
"""


def _q_quantile_drift(spark, sf_dir):
    """Quantile-shift vector per signal (operators/drift.quantile_drift):
    first-half vs second-half exact interpolated quintiles + shifts —
    WHERE the distribution moved; ONE keyed Exchange, in-row explode,
    no Python."""
    from eristropy_spark.operators.drift import quantile_drift

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id", "value")
    r = quantile_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        _r6("p").alias("p"),
        _r6("q_ref").alias("q_ref"),
        _r6("q_cur").alias("q_cur"),
        _r6("shift").alias("shift"),
    )


_ORACLE_QUANTILE_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), red AS (
  SELECT user_id, event_type,
         quantile_cont(CASE WHEN ref THEN v END, 0.1) AS r0,
         quantile_cont(CASE WHEN NOT ref THEN v END, 0.1) AS c0,
         quantile_cont(CASE WHEN ref THEN v END, 0.25) AS r1,
         quantile_cont(CASE WHEN NOT ref THEN v END, 0.25) AS c1,
         quantile_cont(CASE WHEN ref THEN v END, 0.5) AS r2,
         quantile_cont(CASE WHEN NOT ref THEN v END, 0.5) AS c2,
         quantile_cont(CASE WHEN ref THEN v END, 0.75) AS r3,
         quantile_cont(CASE WHEN NOT ref THEN v END, 0.75) AS c3,
         quantile_cont(CASE WHEN ref THEN v END, 0.9) AS r4,
         quantile_cont(CASE WHEN NOT ref THEN v END, 0.9) AS c4
  FROM tagged GROUP BY user_id, event_type
), ex AS (
  SELECT user_id, event_type, u.p, u.q_ref, u.q_cur
  FROM red, LATERAL (
    SELECT unnest([
      {'p': 0.1, 'q_ref': r0, 'q_cur': c0},
      {'p': 0.25, 'q_ref': r1, 'q_cur': c1},
      {'p': 0.5, 'q_ref': r2, 'q_cur': c2},
      {'p': 0.75, 'q_ref': r3, 'q_cur': c3},
      {'p': 0.9, 'q_ref': r4, 'q_cur': c4}
    ], recursive := true)
  ) u
)
SELECT user_id, event_type,
       floor(p * 1000000 + 0.5) / 1000000 AS p,
       floor(q_ref * 1000000 + 0.5) / 1000000 AS q_ref,
       floor(q_cur * 1000000 + 0.5) / 1000000 AS q_cur,
       floor((q_cur - q_ref) * 1000000 + 0.5) / 1000000 AS shift
FROM ex
"""


def _q_normality(spark, sf_dir):
    """Jarque-Bera normality moments + Grubbs max-deviation per signal
    (operators/normality.normality_stats): quantized order-free moment
    sums (DECIMAL(38,9)), fixed-order skew/kurtosis/JB — the router
    between z-score and MAD-based monitors; ONE keyed Exchange, no
    Python."""
    from eristropy_spark.operators.normality import normality_stats

    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    r = normality_stats(ev, ("user_id", "event_type"))
    return r.select(
        "user_id",
        "event_type",
        "n",
        _r6("mean").alias("mean"),
        _r6("std").alias("std"),
        _r6("skew").alias("skew"),
        _r6("kurt_excess").alias("kurt_excess"),
        _r6("jb").alias("jb"),
        _r6("g_max").alias("g_max"),
    )


_ORACLE_NORMALITY = """
WITH q AS (
  SELECT user_id, event_type,
         floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS v,
         CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18, 6)) AS vq
  FROM events
), m AS (
  SELECT user_id, event_type, v,
         floor((CAST(sum(vq) OVER k AS DOUBLE) / count(*) OVER k)
               * 1000000.0 + 0.5) / 1000000.0 AS mean6
  FROM q
  WINDOW k AS (PARTITION BY user_id, event_type)
), g AS (
  SELECT user_id, event_type, v, mean6,
         CAST(round((v - mean6) * 1000000.0) AS HUGEINT) AS du
  FROM m
), agg AS (
  SELECT user_id, event_type,
         CAST(count(*) AS BIGINT) AS n,
         max(mean6) AS mean,
         sum(du * du) AS s2,
         sum(du * du * du) AS s3,
         sum(du * du * du * du) AS s4,
         max(abs(v - mean6)) AS dmax
  FROM g GROUP BY user_id, event_type
), st AS (
  SELECT user_id, event_type, n, mean, dmax,
         (CAST(s2 AS DOUBLE) / 1.0e12) / CAST(n AS DOUBLE) AS m2,
         (CAST(s3 AS DOUBLE) / 1.0e18) / CAST(n AS DOUBLE) AS m3,
         (CAST(s4 AS DOUBLE) / 1.0e24) / CAST(n AS DOUBLE) AS m4,
         sqrt((CAST(s2 AS DOUBLE) / 1.0e12)
              / (CAST(n AS DOUBLE) - 1.0)) AS std
  FROM agg
), fin AS (
  SELECT user_id, event_type, n, mean, std, dmax, m2,
         m3 / pow(m2, 1.5) AS skew,
         m4 / (m2 * m2) - 3.0 AS kurt
  FROM st
)
SELECT user_id, event_type, n,
       floor(mean * 1000000 + 0.5) / 1000000 AS mean,
       CASE WHEN n >= 2 THEN floor(std * 1000000 + 0.5) / 1000000
       END AS std,
       CASE WHEN n >= 3 AND m2 > 0.0 THEN
         floor(skew * 1000000 + 0.5) / 1000000 END AS skew,
       CASE WHEN n >= 3 AND m2 > 0.0 THEN
         floor(kurt * 1000000 + 0.5) / 1000000 END AS kurt_excess,
       CASE WHEN n >= 3 AND m2 > 0.0 THEN
         floor((CAST(n AS DOUBLE) / 6.0
                * (skew * skew + kurt * kurt / 4.0))
               * 1000000 + 0.5) / 1000000 END AS jb,
       CASE WHEN n >= 3 AND m2 > 0.0 THEN
         floor((dmax / std) * 1000000 + 0.5) / 1000000 END AS g_max
FROM fin
"""


def _q_categorical_drift(spark, sf_dir):
    """JS divergence of each user's first-half vs second-half
    event-type mix (operators/drift.categorical_drift): the
    categorical drift member — Laplace-smoothed over the union
    category set, 12-dp DECIMAL term sums; census shuffle shape, no
    joins, no Python."""
    from eristropy_spark.operators.drift import categorical_drift

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    r = categorical_drift(ev, "user_id", cat_col="event_type", tiebreak_col="event_id")
    return r.select(
        "user_id",
        "n_ref",
        "n_cur",
        "n_cats",
        _r6("js_div").alias("js_div"),
    )


_ORACLE_CATEGORICAL_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), tagged AS (
  SELECT user_id, c, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, c,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, c
), tot AS (
  SELECT user_id, ca, cb,
         CAST(sum(ca) OVER k AS BIGINT) AS na,
         CAST(sum(cb) OVER k AS BIGINT) AS nb,
         CAST(count(*) OVER k AS BIGINT) AS nc
  FROM cv
  WINDOW k AS (PARTITION BY user_id)
), terms AS (
  SELECT user_id, na, nb, nc,
         CAST(floor((((CAST(ca AS DOUBLE) + 0.5)
                      / (CAST(na AS DOUBLE) + CAST(nc AS DOUBLE) * 0.5))
                     * ln(((CAST(ca AS DOUBLE) + 0.5)
                           / (CAST(na AS DOUBLE) + CAST(nc AS DOUBLE) * 0.5))
                          / ((((CAST(ca AS DOUBLE) + 0.5)
                               / (CAST(na AS DOUBLE)
                                  + CAST(nc AS DOUBLE) * 0.5))
                              + ((CAST(cb AS DOUBLE) + 0.5)
                                 / (CAST(nb AS DOUBLE)
                                    + CAST(nc AS DOUBLE) * 0.5))) / 2.0))
                     + ((CAST(cb AS DOUBLE) + 0.5)
                        / (CAST(nb AS DOUBLE) + CAST(nc AS DOUBLE) * 0.5))
                       * ln(((CAST(cb AS DOUBLE) + 0.5)
                             / (CAST(nb AS DOUBLE)
                                + CAST(nc AS DOUBLE) * 0.5))
                            / ((((CAST(ca AS DOUBLE) + 0.5)
                                 / (CAST(na AS DOUBLE)
                                    + CAST(nc AS DOUBLE) * 0.5))
                                + ((CAST(cb AS DOUBLE) + 0.5)
                                   / (CAST(nb AS DOUBLE)
                                      + CAST(nc AS DOUBLE) * 0.5))) / 2.0)))
                    / 2.0 * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS term
  FROM tot
), red AS (
  SELECT user_id,
         max(na) AS n_ref, max(nb) AS n_cur,
         CAST(max(nc) AS INT) AS n_cats,
         CAST(sum(term) AS DOUBLE) AS js
  FROM terms GROUP BY user_id
)
SELECT user_id, n_ref, n_cur, n_cats,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(js * 1000000 + 0.5) / 1000000 END AS js_div
FROM red
"""


def _q_hill_tail(spark, sf_dir):
    """Hill tail-index estimator per signal (operators/tails.hill_tail):
    per-key top-21 magnitudes via ONE rank-window pass, 12-dp DECIMAL
    log sums, closed-form H and alpha — one keyed Exchange total."""
    from eristropy_spark.operators.tails import hill_tail

    ev = _events(spark, sf_dir).select("user_id", "event_type", "event_id", "value")
    r = hill_tail(ev, ("user_id", "event_type"), tiebreak_cols=("event_id",), k=20)
    return r.select(
        "user_id",
        "event_type",
        "n_pos",
        _r6("x_kth").alias("x_kth"),
        _r6("hill").alias("hill"),
        _r6("alpha").alias("alpha"),
    )


_ORACLE_HILL = """
WITH pts AS (
  SELECT user_id, event_type, abs(CAST(value AS DOUBLE)) AS x, event_id
  FROM events WHERE abs(CAST(value AS DOUBLE)) > 0
), ranked AS (
  SELECT user_id, event_type, x,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY x DESC, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS np
  FROM pts
), kept AS (
  SELECT * FROM ranked WHERE rn <= 21
), red AS (
  SELECT user_id, event_type,
         CAST(max(np) AS BIGINT) AS n_pos,
         min(x) AS xref,
         CAST(sum(CASE WHEN rn <= 20 THEN
           CAST(floor(ln(x) * 1000000000000.0 + 0.5) / 1000000000000.0
                AS DECIMAL(38, 12)) END) AS DOUBLE) AS slog
  FROM kept GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_pos,
       CASE WHEN n_pos >= 21 THEN
         floor(xref * 1000000 + 0.5) / 1000000 END AS x_kth,
       CASE WHEN n_pos >= 21 THEN
         floor(((slog - 20.0 * (floor(ln(xref) * 1000000000000.0 + 0.5)
                                / 1000000000000.0)) / 20.0)
               * 1000000 + 0.5) / 1000000 END AS hill,
       CASE WHEN n_pos >= 21
             AND (slog - 20.0 * (floor(ln(xref) * 1000000000000.0 + 0.5)
                                 / 1000000000000.0)) / 20.0 <> 0.0 THEN
         floor((1.0 / ((slog - 20.0 * (floor(ln(xref) * 1000000000000.0 + 0.5)
                                       / 1000000000000.0)) / 20.0))
               * 1000000 + 0.5) / 1000000 END AS alpha
FROM red
"""


def _q_benford(spark, sf_dir):
    """Benford leading-digit conformity per signal
    (operators/tails.benford): exact-integer leading digit via the
    token string head, χ² + Nigrini MAD with analytic missing-digit
    closures, 12-dp DECIMAL term sums — one (key, digit) two-phase
    aggregate, no joins, no Python."""
    from eristropy_spark.operators.tails import benford

    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    r = benford(ev, ("user_id", "event_type"), scale=2)
    return r.select(
        "user_id",
        "event_type",
        "n",
        "n_digits_present",
        _r6("chi2").alias("chi2"),
        _r6("mad").alias("mad"),
    )


def _benford_oracle() -> str:
    from eristropy_spark.operators.tails import BENFORD_P

    p_case = " ".join(
        f"WHEN d = {i + 1} THEN {BENFORD_P[i]!r}" for i in range(9)
    )
    return f"""
WITH pts AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS tok
  FROM events
), digits AS (
  SELECT user_id, event_type,
         CAST(substr(CAST(abs(tok) AS VARCHAR), 1, 1) AS INT) AS d
  FROM pts WHERE tok <> 0
), cv AS (
  SELECT user_id, event_type, d, CAST(count(*) AS BIGINT) AS c
  FROM digits GROUP BY user_id, event_type, d
), tot AS (
  SELECT user_id, event_type, d, c,
         CAST(sum(c) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS n,
         CASE {p_case} END AS p
  FROM cv
), terms AS (
  SELECT user_id, event_type, n,
         CAST(floor(((CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * p)
                     * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * p)
                     / (CAST(n AS DOUBLE) * p) - CAST(n AS DOUBLE) * p)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS t_chi,
         CAST(floor((abs(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) - p) - p)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS t_mad
  FROM tot
), red AS (
  SELECT user_id, event_type,
         max(n) AS n,
         CAST(count(*) AS INT) AS n_digits_present,
         CAST(sum(t_chi) AS DOUBLE) AS schi,
         CAST(sum(t_mad) AS DOUBLE) AS smad
  FROM terms GROUP BY user_id, event_type
)
SELECT user_id, event_type, n, n_digits_present,
       floor((schi + CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS chi2,
       floor(((smad + 1.0) / 9.0) * 1000000 + 0.5) / 1000000 AS mad
FROM red
"""


def _q_bartels(spark, sf_dir):
    """Bartels rank von Neumann randomness test per signal
    (operators/acf.bartels_rank, Bartels 1982): RVN = Σ(ΔR)²/Σ(R−R̄)²
    on time-order midranks — quadrupled numerator and denominator
    exact int64 (2R̄ = n+1 exactly), RVN one int/int division, z the
    Bartels asymptotic; ONE mapInArrow boundary over the array
    layout, zero shuffle beyond tokenize's own."""
    from eristropy_spark.operators.acf import bartels_rank

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = bartels_rank(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "num4",
        "den4",
        _r6("rvn").alias("rvn"),
        _r6("z").alias("z"),
    )


_ORACLE_BARTELS = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS BIGINT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), rk AS (
  SELECT doc_id, i,
         CAST(2 * rank() OVER (PARTITION BY doc_id ORDER BY tok)
              + count(*) OVER (PARTITION BY doc_id, tok) - 1
              AS BIGINT) AS r2,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM pts
), lagd AS (
  SELECT doc_id, n, r2,
         lag(r2) OVER (PARTITION BY doc_id ORDER BY i) AS pr
  FROM rk
), red AS (
  SELECT doc_id, CAST(max(n) AS INT) AS n,
         CAST(sum(CASE WHEN pr IS NOT NULL
                       THEN (r2 - pr) * (r2 - pr) END) AS BIGINT)
           AS num4,
         CAST(sum((r2 - (n + 1)) * (r2 - (n + 1))) AS BIGINT) AS den4
  FROM lagd GROUP BY doc_id
)
SELECT doc_id, n,
       CASE WHEN n >= 10 THEN num4 END AS num4,
       CASE WHEN n >= 10 THEN den4 END AS den4,
       CASE WHEN n >= 10 AND den4 > 0 THEN
         floor(CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE)
               * 1000000 + 0.5) / 1000000 END AS rvn,
       CASE WHEN n >= 10 AND den4 > 0 THEN
         floor((CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE) - 2.0)
               / sqrt(4.0 * (CAST(n AS DOUBLE) - 2.0)
                      * (5.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         - 2.0 * CAST(n AS DOUBLE) - 9.0)
                      / (5.0 * CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) + 1.0)
                         * (CAST(n AS DOUBLE) - 1.0)
                         * (CAST(n AS DOUBLE) - 1.0)))
               * 1000000 + 0.5) / 1000000 END AS z
FROM red
"""


def _q_ljung_box(spark, sf_dir):
    """Ljung–Box white-noise test per signal (operators/acf.ljung_box):
    quantized-ρ portmanteau Q over 10 lags + the even-df closed-form
    χ² tail — ONE mapInArrow boundary over the array layout, zero
    shuffle beyond tokenize's own."""
    from eristropy_spark.operators.acf import ljung_box

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = ljung_box(tokens, array_col="tokens", max_lag=10, keep_cols=("doc_id",))
    return r.select(
        "doc_id",
        "n",
        "h",
        _r6("q_stat").alias("q_stat"),
        _r6("p_value").alias("p_value"),
    )


_ORACLE_LJUNG_BOX = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), st AS (
  SELECT doc_id, avg(tok) AS mu, CAST(count(*) AS INT) AS n
  FROM pts GROUP BY doc_id
), dev AS (
  SELECT p.doc_id, p.i, p.tok - s.mu AS d, s.n
  FROM pts p JOIN st s USING (doc_id)
), den AS (
  SELECT doc_id, sum(d * d) AS den, max(n) AS n FROM dev GROUP BY doc_id
), lags AS (
  SELECT doc_id, den, n, unnest(generate_series(1, 10)) AS lag
  FROM den WHERE n >= 12 AND den > 0
), rho AS (
  SELECT l.doc_id, l.lag, l.n,
         floor((sum(a.d * b.d) / l.den) * 1000000 + 0.5) / 1000000 AS r6
  FROM lags l
  JOIN dev a ON a.doc_id = l.doc_id
  JOIN dev b ON b.doc_id = l.doc_id AND b.i = a.i + l.lag
  GROUP BY l.doc_id, l.lag, l.n, l.den
), terms AS (
  SELECT doc_id, n,
         CAST(floor((CAST(n * (n + 2) AS DOUBLE) * r6 * r6
                     / CAST(n - lag AS DOUBLE))
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS term
  FROM rho
), q AS (
  SELECT doc_id, max(n) AS n, CAST(sum(term) AS DOUBLE) AS qv
  FROM terms GROUP BY doc_id
)
SELECT s.doc_id, s.n, CAST(10 AS INT) AS h,
       floor(q.qv * 1000000 + 0.5) / 1000000 AS q_stat,
       -- DuckDB's least() SKIPS NULLs (least(1.0, NULL) = 1.0), so the
       -- no-statistic docs must be guarded explicitly
       CASE WHEN q.qv IS NULL THEN NULL ELSE
       floor(least(1.0, exp(-(q.qv / 2.0))
               * (1.0 + (q.qv / 2.0)
                  + ((q.qv / 2.0) * (q.qv / 2.0)) / 2.0
                  + (((q.qv / 2.0) * (q.qv / 2.0)) * (q.qv / 2.0)) / 6.0
                  + ((((q.qv / 2.0) * (q.qv / 2.0)) * (q.qv / 2.0))
                     * (q.qv / 2.0)) / 24.0))
             * 1000000 + 0.5) / 1000000 END AS p_value
FROM st s LEFT JOIN q ON q.doc_id = s.doc_id
"""


def _q_matrix_profile(spark, sf_dir):
    """Matrix profile (operators/matrixprofile.matrix_profile, Yeh et
    al. 2016): per-window z-normalized nearest-neighbor distance with a
    w/4 exclusion zone — ONE mapInArrow boundary over the array layout.
    Every sufficient statistic (window sums, squares, sliding dot
    products) is an exact int64, so the one fixed float expression per
    pair is bit-replayable by DuckDB (list_dot_product over int-valued
    doubles stays exact below 2^53).  w=6 with a |i-j|>=2 exclusion
    zone fits the short per-signal sequences of the events table (~13
    samples at sf0.01); the oracle's O(P^2)-per-doc pair join stays
    tiny at that shape, so the row runs over EVERY doc."""
    from eristropy_spark.operators.matrixprofile import matrix_profile

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = matrix_profile(
        tokens, array_col="tokens", w=6, min_sep=2, keep_cols=("doc_id",)
    )
    return r.select("doc_id", "pos", "nn_idx", "dist")


_ORACLE_MATRIX_PROFILE = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
), wins AS (
  SELECT doc_id, i,
         CAST(sum(CAST(tok AS BIGINT)) OVER win AS BIGINT) AS s,
         CAST(sum(CAST(tok AS BIGINT) * tok) OVER win AS BIGINT) AS q,
         count(*) OVER win AS cnt
  FROM pts
  WINDOW win AS (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING)
), ws AS (
  SELECT doc_id, i, s, 6 * q - s * s AS varn
  FROM wins WHERE cnt = 6
), ls AS (
  SELECT doc_id, CAST(list(tok ORDER BY i) AS DOUBLE[]) AS l
  FROM pts GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id, a.i, b.i AS j,
         floor(sqrt(greatest(12.0 * (1.0 -
             (6 * list_dot_product(ls.l[a.i + 1 : a.i + 6],
                                   ls.l[b.i + 1 : b.i + 6])
              - CAST(a.s * b.s AS DOUBLE))
             / sqrt(CAST(a.varn AS DOUBLE) * CAST(b.varn AS DOUBLE))),
           0.0)) * 1000000 + 0.5) / 1000000 AS d6
  FROM ws a
  JOIN ws b ON b.doc_id = a.doc_id
           AND abs(a.i - b.i) >= 2 AND b.varn > 0
  JOIN ls ON ls.doc_id = a.doc_id
  WHERE a.varn > 0
), best AS (
  SELECT doc_id, i, j, d6,
         row_number() OVER (PARTITION BY doc_id, i
                            ORDER BY d6, j) AS rn
  FROM pairs
)
SELECT w.doc_id, CAST(w.i AS INT) AS pos,
       CAST(b.j AS INT) AS nn_idx, b.d6 AS dist
FROM ws w LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON b.doc_id = w.doc_id AND b.i = w.i
"""


def _q_higuchi(spark, sf_dir):
    """Higuchi fractal dimension per signal (operators/fractal
    .higuchi_fd, Higuchi 1988): exact-int64 curve lengths per (m, k),
    12-dp-grid quantize-then-derive log-log OLS slope — ONE mapInArrow
    boundary, zero shuffle beyond tokenize's own; bit-replayable."""
    from eristropy_spark.operators.fractal import higuchi_fd

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = higuchi_fd(tokens, array_col="tokens", kmax=6, keep_cols=("doc_id",))
    return r.select("doc_id", "n", "kmax", "fd")


_ORACLE_HIGUCHI = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS p
  FROM events
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
), ks AS (
  SELECT doc_id, n, unnest(generate_series(1, 6)) AS k
  FROM nn WHERE n >= 12
), diffs AS (
  SELECT ks.doc_id, ks.n, ks.k, (a.p % ks.k) AS m0,
         CAST(abs(a.tok - b.tok) AS BIGINT) AS ad
  FROM ks
  JOIN pts a ON a.doc_id = ks.doc_id AND a.p >= ks.k
  JOIN pts b ON b.doc_id = ks.doc_id AND b.p = a.p - ks.k
), terms AS (
  SELECT doc_id, n, k, m0,
         CAST(floor((sum(ad) * (n - 1)) / (count(*) * k * k)
                    * 1000000000000.0 + 0.5) AS BIGINT) AS t
  FROM diffs GROUP BY doc_id, n, k, m0
), lk AS (
  SELECT doc_id, n, k, CAST(sum(t) AS BIGINT) AS s
  FROM terms GROUP BY doc_id, n, k
), pt AS (
  SELECT doc_id, n, k, s,
         CAST(floor(ln(CAST(k AS DOUBLE)) * 1000000000000.0 + 0.5)
              AS BIGINT) AS xg,
         CASE WHEN s > 0 THEN
           CAST(floor(ln((CAST(s AS DOUBLE) / 1000000000000.0) / k)
                      * 1000000000000.0 + 0.5) AS BIGINT) END AS yg
  FROM lk
), g AS (
  SELECT doc_id, min(s) AS smin,
         CAST(sum(xg) AS BIGINT) AS sxg,
         CAST(sum(yg) AS BIGINT) AS syg,
         CAST(sum(CAST(floor((xg / 1000000000000.0)
                             * (yg / 1000000000000.0)
                             * 1000000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS sxyg,
         CAST(sum(CAST(floor((xg / 1000000000000.0)
                             * (xg / 1000000000000.0)
                             * 1000000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS sxxg
  FROM pt GROUP BY doc_id
)
SELECT nn.doc_id, nn.n, CAST(6 AS INT) AS kmax,
       CASE WHEN g.doc_id IS NULL OR g.smin <= 0 THEN NULL ELSE
         floor(-((6 * (CAST(sxyg AS DOUBLE) / 1000000000000.0)
                  - (CAST(sxg AS DOUBLE) / 1000000000000.0)
                    * (CAST(syg AS DOUBLE) / 1000000000000.0))
                 / (6 * (CAST(sxxg AS DOUBLE) / 1000000000000.0)
                    - (CAST(sxg AS DOUBLE) / 1000000000000.0)
                      * (CAST(sxg AS DOUBLE) / 1000000000000.0)))
               * 1000000 + 0.5) / 1000000 END AS fd
FROM nn LEFT JOIN g USING (doc_id)
"""


def _q_dfa(spark, sf_dir):
    """Detrended fluctuation analysis per signal (operators/fractal
    .dfa, Peng et al. 1994): exact-int64 integrated profile + per-box
    OLS SSR closed forms, unit-grid box sums, 12-dp-grid log-log
    slope — ONE mapInArrow boundary, bit-replayable."""
    from eristropy_spark.operators.fractal import dfa

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = dfa(tokens, array_col="tokens", sizes=(4, 8, 16, 32), keep_cols=("doc_id",))
    return r.select("doc_id", "n", "n_scales", "alpha")


_ORACLE_DFA = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS t
  FROM events
), prof AS (
  SELECT doc_id, t,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
           * CAST(sum(CAST(tok AS BIGINT)) OVER
                  (PARTITION BY doc_id ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT)
           - t * CAST(sum(CAST(tok AS BIGINT)) OVER (PARTITION BY doc_id)
                      AS BIGINT) AS z
  FROM pts
), nn2 AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY doc_id
), sz AS (
  SELECT doc_id, n, unnest([4, 8, 16, 32]) AS s FROM nn2
), boxed AS (
  -- local box coordinates: t' = 1..s, z' = z - z_first (OLS SSR is
  -- shift-invariant; keeps every statistic small enough for exact
  -- HUGEINT accumulation, mirroring the kernel's Python bigints)
  SELECT doc_id, n, s, b, tl,
         z - first_value(z) OVER (PARTITION BY doc_id, s, b ORDER BY tl
                                  ROWS UNBOUNDED PRECEDING) AS zc
  FROM (
    SELECT p.doc_id, p.n, sz.s, (p.t - 1) // sz.s AS b,
           ((p.t - 1) % sz.s) + 1 AS tl, p.z
    FROM prof p JOIN sz ON sz.doc_id = p.doc_id
    WHERE sz.s <= p.n AND p.t <= (p.n // sz.s) * sz.s
  )
), boxagg AS (
  SELECT doc_id, n, s, b,
         (CAST(s AS BIGINT) * (s + 1)) // 2 AS st,
         (CAST(s AS BIGINT) * (s + 1) * (2 * s + 1)) // 6 AS stt,
         CAST(sum(zc) AS HUGEINT) AS sz_,
         sum(CAST(zc AS HUGEINT) * zc) AS szz,
         CAST(sum(tl * zc) AS HUGEINT) AS stz
  FROM boxed GROUP BY doc_id, n, s, b
), boxssr AS (
  SELECT doc_id, n, s,
         CAST(floor(((CAST(szz AS DOUBLE)
                      - CAST(sz_ * sz_ AS DOUBLE) / CAST(s AS DOUBLE))
                     - ((CAST(stz AS DOUBLE)
                         - CAST(st * sz_ AS DOUBLE) / CAST(s AS DOUBLE))
                        * (CAST(stz AS DOUBLE)
                           - CAST(st * sz_ AS DOUBLE) / CAST(s AS DOUBLE)))
                       / (CAST(stt AS DOUBLE)
                          - CAST(st * st AS DOUBLE) / CAST(s AS DOUBLE)))
                    + 0.5)
              AS BIGINT) AS q
  FROM boxagg
), scale AS (
  SELECT doc_id, n, s, CAST(sum(q) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS nb
  FROM boxssr GROUP BY doc_id, n, s
  HAVING CAST(sum(q) AS BIGINT) > 0
), pt AS (
  SELECT doc_id,
         CAST(floor(ln(CAST(s AS DOUBLE)) * 1000000000000.0 + 0.5)
              AS BIGINT) AS xg,
         CAST(floor(0.5 * ln((CAST(tot AS DOUBLE) / (nb * s)) / (n * n))
                    * 1000000000000.0 + 0.5) AS BIGINT) AS yg
  FROM scale
), g AS (
  SELECT doc_id, CAST(count(*) AS INT) AS k,
         CAST(sum(xg) AS BIGINT) AS sxg,
         CAST(sum(yg) AS BIGINT) AS syg,
         CAST(sum(CAST(floor((xg / 1000000000000.0)
                             * (yg / 1000000000000.0)
                             * 1000000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS sxyg,
         CAST(sum(CAST(floor((xg / 1000000000000.0)
                             * (xg / 1000000000000.0)
                             * 1000000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS sxxg
  FROM pt GROUP BY doc_id
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
)
SELECT nn.doc_id, nn.n,
       CAST(coalesce(g.k, 0) AS INT) AS n_scales,
       CASE WHEN g.k IS NULL OR g.k < 2 THEN NULL ELSE
         floor(((g.k * (CAST(sxyg AS DOUBLE) / 1000000000000.0)
                 - (CAST(sxg AS DOUBLE) / 1000000000000.0)
                   * (CAST(syg AS DOUBLE) / 1000000000000.0))
                / (g.k * (CAST(sxxg AS DOUBLE) / 1000000000000.0)
                   - (CAST(sxg AS DOUBLE) / 1000000000000.0)
                     * (CAST(sxg AS DOUBLE) / 1000000000000.0)))
               * 1000000 + 0.5) / 1000000 END AS alpha
FROM nn LEFT JOIN g USING (doc_id)
"""


def _q_markov_rate(spark, sf_dir):
    """First-order Markov entropy rate per signal (operators/
    distribution.markov_entropy_rate, Shannon 1948 §3): in-row bigram
    zip + three chained two-phase hash aggregates, 12-dp DECIMAL grid
    for the Σ c·ln c sums — no joins, no windows, no Python."""
    from eristropy_spark.operators.distribution import markov_entropy_rate

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = markov_entropy_rate(tokens, array_col="tokens", id_col="doc_id")
    return r.select(
        "doc_id",
        "n_pairs",
        "n_bigrams",
        "n_contexts",
        _r6("h_bigram").alias("h_bigram"),
        _r6("h_context").alias("h_context"),
        _r6("h_rate").alias("h_rate"),
    )


_ORACLE_MARKOV_RATE = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), prs AS (
  SELECT a.doc_id, a.tok AS x, b.tok AS y
  FROM pts a JOIN pts b ON b.doc_id = a.doc_id AND b.i = a.i + 1
), c2 AS (
  SELECT doc_id, x, y, CAST(count(*) AS BIGINT) AS c
  FROM prs GROUP BY doc_id, x, y
), ctx AS (
  SELECT doc_id, x, CAST(sum(c) AS BIGINT) AS ca,
         CAST(count(*) AS BIGINT) AS nb,
         sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                        * 1000000000000.0 + 0.5) / 1000000000000.0
                  AS DECIMAL(38, 12))) AS s2
  FROM c2 GROUP BY doc_id, x
), red AS (
  SELECT doc_id, CAST(sum(ca) AS BIGINT) AS m,
         CAST(sum(nb) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_contexts,
         CAST(sum(s2) AS DOUBLE) AS slog2,
         CAST(sum(CAST(floor(CAST(ca AS DOUBLE) * ln(CAST(ca AS DOUBLE))
                             * 1000000000000.0 + 0.5) / 1000000000000.0
                       AS DECIMAL(38, 12))) AS DOUBLE) AS slog1
  FROM ctx GROUP BY doc_id
), nn AS (
  SELECT user_id || ':' || event_type AS doc_id, count(*) AS n
  FROM events GROUP BY 1
)
SELECT nn.doc_id,
       coalesce(r.m, 0) AS n_pairs,
       coalesce(r.n_bigrams, 0) AS n_bigrams,
       coalesce(r.n_contexts, 0) AS n_contexts,
       floor((ln(CAST(r.m AS DOUBLE)) - r.slog2 / CAST(r.m AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS h_bigram,
       floor((ln(CAST(r.m AS DOUBLE)) - r.slog1 / CAST(r.m AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS h_context,
       floor(((ln(CAST(r.m AS DOUBLE)) - r.slog2 / CAST(r.m AS DOUBLE))
              - (ln(CAST(r.m AS DOUBLE)) - r.slog1 / CAST(r.m AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS h_rate
FROM nn LEFT JOIN red r USING (doc_id)
"""


def _q_lz_complexity(spark, sf_dir):
    """LZ76 exhaustive-history complexity per signal (operators/
    complexity.lz_complexity, Lempel & Ziv 1976 / Kaspar & Schuster
    1987): pure integer phrase parse inside ONE mapInArrow boundary;
    the oracle replays the parse phrase-for-phrase in SQL (fixed-width
    token encoding -> token-aligned contains() novelty table ->
    recursive-CTE greedy walk)."""
    from eristropy_spark.operators.complexity import lz_complexity

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = lz_complexity(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select("doc_id", "n", "alpha", "c", "c_norm")


_ORACLE_LZ = """
WITH RECURSIVE pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), enc AS (
  -- fixed-width encoding: ',' + 10-digit offset decimal per token, so
  -- every contains() hit is token-aligned (commas only at starts)
  SELECT doc_id,
         string_agg(',' || lpad(CAST(tok + 2147483648 AS BIGINT)::VARCHAR,
                                10, '0'), '' ORDER BY i) AS s,
         CAST(count(*) AS INT) AS n,
         CAST(count(DISTINCT tok) AS INT) AS alpha
  FROM pts GROUP BY doc_id
), pos AS (
  SELECT doc_id, n, s, unnest(generate_series(1, n)) AS p FROM enc
), jmp AS (
  -- jump table: first q >= p where phrase x[p..q] is NOT a substring
  -- of x[1..q-1] (self-overlap allowed: matches end before q)
  SELECT a.doc_id, a.p, min(b.p) AS q
  FROM pos a
  JOIN pos b ON b.doc_id = a.doc_id AND b.p >= a.p
  WHERE NOT contains(substr(a.s, 1, 11 * (b.p - 1)),
                     substr(a.s, 11 * (a.p - 1) + 1, 11 * (b.p - a.p + 1)))
  GROUP BY a.doc_id, a.p
), walk AS (
  SELECT doc_id, 1 AS p, 0 AS c, n FROM enc
  UNION ALL
  SELECT w.doc_id, coalesce(CAST(j.q AS INT) + 1, w.n + 1), w.c + 1, w.n
  FROM walk w
  LEFT JOIN jmp j ON j.doc_id = w.doc_id AND j.p = w.p
  WHERE w.p <= w.n
), cfin AS (
  SELECT doc_id, CAST(max(c) AS INT) AS c FROM walk GROUP BY doc_id
)
SELECT e.doc_id, e.n, e.alpha, cfin.c,
       CASE WHEN e.n >= 2 AND e.alpha >= 2 THEN
         floor(((cfin.c * ln(CAST(e.n AS DOUBLE)))
                / (e.n * ln(CAST(e.alpha AS DOUBLE))))
               * 1000000 + 0.5) / 1000000 END AS c_norm
FROM enc e JOIN cfin USING (doc_id)
"""


def _q_lttb(spark, sf_dir):
    """LTTB shape-preserving downsample per signal (operators/lttb
    .lttb_downsample, Steinarsson 2013): exact-integer triangle areas
    over (position, token) points inside ONE mapInArrow boundary; the
    oracle replays the stateful greedy selection via a precomputed
    (bucket, anchor) -> argmax transition table walked by a recursive
    CTE — the same replay pattern as the LZ76 parse."""
    from eristropy_spark.operators.lttb import lttb_downsample

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = lttb_downsample(tokens, array_col="tokens", n_out=8, keep_cols=("doc_id",))
    return r.select("doc_id", "t", "v")


_ORACLE_LTTB = """
WITH RECURSIVE pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS t
  FROM events
), nn AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY doc_id
), pass AS (
  SELECT p.doc_id, p.t, p.tok AS v
  FROM pts p JOIN nn USING (doc_id) WHERE nn.n <= 8
), ib AS (
  -- interior points of big docs with their bucket (nb=8 -> 6 interior
  -- buckets; same integer map as the kernel: ((t-2)*6) // (n-2))
  SELECT p.doc_id, p.t, p.tok AS v, ((p.t - 2) * 6) // (nn.n - 2) AS b, nn.n
  FROM pts p JOIN nn USING (doc_id)
  WHERE nn.n > 8 AND p.t BETWEEN 2 AND nn.n - 1
), bsum AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(v) AS BIGINT) AS sv, max(n) AS n
  FROM ib GROUP BY doc_id, b
), lastv AS (
  SELECT p.doc_id, CAST(p.tok AS BIGINT) AS v
  FROM pts p JOIN nn USING (doc_id) WHERE nn.n > 8 AND p.t = nn.n
), anchors AS (
  -- the C point of bucket j: centroid sums of bucket j+1, or the
  -- final point (m=1) for the last bucket
  SELECT cur.doc_id, cur.b,
         coalesce(nx.m, 1) AS m,
         coalesce(nx.st, cur.n) AS st,
         coalesce(nx.sv, lastv.v) AS sv
  FROM bsum cur
  LEFT JOIN bsum nx ON nx.doc_id = cur.doc_id AND nx.b = cur.b + 1
  JOIN lastv ON lastv.doc_id = cur.doc_id
), acand AS (
  -- every possible previously-selected anchor A for bucket j: any
  -- point of bucket j-1, or the always-selected first point for j=0
  SELECT doc_id, b + 1 AS jb, t AS ta, v AS va FROM ib
  UNION ALL
  SELECT p.doc_id, 0 AS jb, 1 AS ta, p.tok AS va
  FROM pts p JOIN nn USING (doc_id) WHERE nn.n > 8 AND p.t = 1
), trans AS (
  SELECT doc_id, jb, ta, tb FROM (
    SELECT a.doc_id, a.jb, a.ta, c.t AS tb,
           row_number() OVER (
             PARTITION BY a.doc_id, a.jb, a.ta
             ORDER BY abs((CAST(a.ta AS BIGINT) * an.m - an.st)
                            * CAST(c.v - a.va AS BIGINT)
                          - CAST(a.ta - c.t AS BIGINT)
                            * (an.sv - CAST(a.va AS BIGINT) * an.m)) DESC,
                      c.t ASC) AS rn
    FROM acand a
    JOIN ib c ON c.doc_id = a.doc_id AND c.b = a.jb
    JOIN anchors an ON an.doc_id = a.doc_id AND an.b = a.jb
  ) WHERE rn = 1
), walk AS (
  SELECT doc_id, CAST(0 AS INT) AS j, CAST(1 AS BIGINT) AS sel_t
  FROM nn WHERE n > 8
  UNION ALL
  SELECT w.doc_id, w.j + 1, tr.tb
  FROM walk w
  JOIN trans tr ON tr.doc_id = w.doc_id AND tr.jb = w.j AND tr.ta = w.sel_t
  WHERE w.j <= 5
), selpts AS (
  SELECT doc_id, sel_t AS t FROM walk
  UNION ALL
  SELECT doc_id, n AS t FROM nn WHERE n > 8
)
SELECT s.doc_id, CAST(s.t AS INT) AS t, CAST(p.tok AS INT) AS v
FROM selpts s JOIN pts p ON p.doc_id = s.doc_id AND p.t = s.t
UNION ALL
SELECT doc_id, CAST(t AS INT) AS t, CAST(v AS INT) AS v FROM pass
"""


def _q_runs_test(spark, sf_dir):
    """Wald–Wolfowitz median-split runs test per signal (operators/
    randomtests.runs_test): exact-int64 run counts in-row, ONE fixed
    float expression for z — zero Python, zero joins, only tokenize's
    Exchange."""
    from eristropy_spark.operators.randomtests import runs_test

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = runs_test(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select("doc_id", "n", "n1", "n2", "runs", _r6("z").alias("z"))


_ORACLE_RUNS = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), med AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n,
         quantile_cont(tok, 0.5) AS med
  FROM pts GROUP BY doc_id
), sgn AS (
  SELECT p.doc_id, p.i,
         CASE WHEN CAST(p.tok AS DOUBLE) > m.med THEN 1 ELSE -1 END AS s
  FROM pts p JOIN med m USING (doc_id)
  WHERE CAST(p.tok AS DOUBLE) <> m.med
), lagged AS (
  SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS pl
  FROM sgn
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(1 + sum(CASE WHEN pl IS NOT NULL AND s <> pl
                           THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM lagged GROUP BY doc_id
)
SELECT med.doc_id, med.n,
       coalesce(agg.n1, 0) AS n1,
       coalesce(agg.m - agg.n1, 0) AS n2,
       coalesce(agg.runs, 0) AS runs,
       CASE WHEN agg.n1 >= 1 AND agg.m - agg.n1 >= 1
                 AND 2.0 * agg.n1 * (agg.m - agg.n1) > CAST(agg.m AS DOUBLE)
            THEN floor((CAST(agg.runs AS DOUBLE)
                        - (1.0 + 2.0 * agg.n1 * (agg.m - agg.n1)
                                 / CAST(agg.m AS DOUBLE)))
                       / sqrt((2.0 * agg.n1 * (agg.m - agg.n1)
                               * (2.0 * agg.n1 * (agg.m - agg.n1)
                                  - CAST(agg.m AS DOUBLE)))
                              / (CAST(agg.m AS DOUBLE)
                                 * CAST(agg.m AS DOUBLE)
                                 * (CAST(agg.m AS DOUBLE) - 1.0)))
                       * 1000000 + 0.5) / 1000000 END AS z
FROM med LEFT JOIN agg USING (doc_id)
"""


def _q_turning_points(spark, sf_dir):
    """Turning-point randomness test per signal (operators/randomtests
    .turning_points, Kendall & Stuart): strict local-extremum count
    from in-row integer diffs vs E[T] = 2(n-2)/3, Var = (16n-29)/90 —
    zero Python, zero joins."""
    from eristropy_spark.operators.randomtests import turning_points

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = turning_points(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select("doc_id", "n", "tp", _r6("z").alias("z"))


_ORACLE_TURNING = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id, i,
         tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS d
  FROM pts
), dnn AS (
  SELECT doc_id, i, CAST(d AS BIGINT) AS d FROM dif WHERE d IS NOT NULL
), prd AS (
  SELECT doc_id,
         d * lag(d) OVER (PARTITION BY doc_id ORDER BY i) AS pr
  FROM dnn
), agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN pr < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM prd GROUP BY doc_id
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
)
SELECT nn.doc_id, nn.n,
       coalesce(agg.tp, 0) AS tp,
       CASE WHEN nn.n >= 3 THEN
         floor((CAST(coalesce(agg.tp, 0) AS DOUBLE)
                - 2.0 * (CAST(nn.n AS DOUBLE) - 2.0) / 3.0)
               / sqrt((16.0 * CAST(nn.n AS DOUBLE) - 29.0) / 90.0)
               * 1000000 + 0.5) / 1000000 END AS z
FROM nn LEFT JOIN agg USING (doc_id)
"""


def _q_variance_ratio(spark, sf_dir):
    """Lo–MacKinlay variance-ratio test VR(4) per signal (operators/
    randomtests.variance_ratio): exact-int64 increment sums in-row
    (Σd, Σd², Σy, Σy²), ONE fixed float expression for VR and the
    homoskedastic z — zero Python, zero joins."""
    from eristropy_spark.operators.randomtests import variance_ratio

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = variance_ratio(tokens, q=4, array_col="tokens", keep_cols=("doc_id",))
    return r.select("doc_id", "n", _r6("vr").alias("vr"), _r6("z").alias("z"))


_ORACLE_VR = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id,
         tok - lag(tok) OVER w AS d,
         tok - lag(tok, 4) OVER w AS y
  FROM pts
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), agg AS (
  SELECT doc_id,
         CAST(sum(d) AS BIGINT) AS sd,
         CAST(sum(CAST(d AS BIGINT) * CAST(d AS BIGINT)) AS BIGINT) AS sd2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(y AS BIGINT) * CAST(y AS BIGINT)) AS BIGINT) AS sy2
  FROM dif GROUP BY doc_id
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
), e2 AS (
  SELECT nn.doc_id, nn.n,
         CAST(nn.n - 1 AS DOUBLE) AS td,
         CAST(agg.sd AS DOUBLE) AS sdd,
         CAST(agg.sd2 AS DOUBLE) AS sd2d,
         CAST(agg.sy AS DOUBLE) AS syd,
         CAST(agg.sy2 AS DOUBLE) AS sy2d,
         CAST(agg.sd AS DOUBLE) / CAST(nn.n - 1 AS DOUBLE) AS mu
  FROM nn JOIN agg USING (doc_id)
), e3 AS (
  SELECT doc_id, n, td, syd, sy2d,
         sd2d - mu * sdd AS ssd,
         4.0 * mu AS qmu,
         td - 4.0 + 1.0 AS nq
  FROM e2
), e4 AS (
  SELECT doc_id, n, td, ssd, nq,
         sy2d - 2.0 * qmu * syd + nq * qmu * qmu AS ssy,
         4.0 * nq * (1.0 - 4.0 / td) AS mden
  FROM e3
), e5 AS (
  SELECT doc_id, n, td,
         CASE WHEN (n - 1) > 4 AND ssd > 0.0
              THEN (ssy / mden) / (ssd / (td - 1.0)) END AS vr
  FROM e4
)
SELECT doc_id, n,
       floor(vr * 1000000 + 0.5) / 1000000 AS vr,
       floor(sqrt(td) * (vr - 1.0)
             / sqrt(2.0 * (2.0 * 4.0 - 1.0) * (4.0 - 1.0) / (3.0 * 4.0))
             * 1000000 + 0.5) / 1000000 AS z
FROM e5
"""


def _q_irreversibility(spark, sf_dir):
    """Time-reversal asymmetry per signal (operators/dynamics
    .irreversibility, Porta et al. 2008 / Guzik et al. 2006): exact
    int64 increment counts and squared-increment sums in-row, ONE
    fixed float expression each for Porta %, Guzik GI and the sign-
    test z — zero Python, zero joins, only tokenize's Exchange."""
    from eristropy_spark.operators.dynamics import irreversibility

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = irreversibility(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "n_plus", "n_minus",
        _r6("porta").alias("porta"),
        _r6("guzik").alias("guzik"),
        _r6("z").alias("z"),
    )


_ORACLE_IRREV = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id,
         CAST(tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
              AS BIGINT) AS d
  FROM pts
), dnn AS (
  SELECT doc_id, d FROM dif WHERE d IS NOT NULL
), agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
         CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
         CAST(sum(CASE WHEN d > 0 THEN d * d ELSE 0 END) AS BIGINT) AS sp,
         CAST(sum(d * d) AS BIGINT) AS sa
  FROM dnn GROUP BY doc_id
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
)
SELECT nn.doc_id, nn.n,
       coalesce(agg.n_plus, 0) AS n_plus,
       coalesce(agg.n_minus, 0) AS n_minus,
       CASE WHEN coalesce(agg.n_plus, 0) + coalesce(agg.n_minus, 0) > 0
            THEN floor(CAST(agg.n_minus AS DOUBLE)
                       / CAST(agg.n_plus + agg.n_minus AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 END AS porta,
       CASE WHEN coalesce(agg.sa, 0) > 0
            THEN floor(CAST(agg.sp AS DOUBLE) / CAST(agg.sa AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 END AS guzik,
       CASE WHEN coalesce(agg.n_plus, 0) + coalesce(agg.n_minus, 0) > 0
            THEN floor((CAST(agg.n_plus AS DOUBLE)
                        - CAST(agg.n_minus AS DOUBLE))
                       / sqrt(CAST(agg.n_plus + agg.n_minus AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 END AS z
FROM nn LEFT JOIN agg USING (doc_id)
"""


def _q_hjorth(spark, sf_dir):
    """Hjorth activity/mobility/complexity per signal (operators/
    dynamics.hjorth, Hjorth 1970): exact int64 sums over the signal
    and its first/second differences in-row, population variances and
    the two sqrt ratios as fixed float expressions — zero Python,
    zero joins, O(n) per signal."""
    from eristropy_spark.operators.dynamics import hjorth

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = hjorth(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n",
        _r6("activity").alias("activity"),
        _r6("mobility").alias("mobility"),
        _r6("complexity").alias("complexity"),
    )


_ORACLE_HJORTH = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id, i, CAST(tok AS BIGINT) AS x,
         CAST(tok - lag(tok) OVER w AS BIGINT) AS d1
  FROM pts
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), dif2 AS (
  SELECT doc_id, i, x, d1,
         d1 - lag(d1) OVER (PARTITION BY doc_id ORDER BY i) AS d2
  FROM dif
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n,
         CAST(sum(x) AS BIGINT) AS s0,
         CAST(sum(x * x) AS BIGINT) AS q0,
         CAST(coalesce(sum(d1), 0) AS BIGINT) AS s1,
         CAST(coalesce(sum(d1 * d1), 0) AS BIGINT) AS q1,
         CAST(coalesce(sum(d2), 0) AS BIGINT) AS s2,
         CAST(coalesce(sum(d2 * d2), 0) AS BIGINT) AS q2
  FROM dif2 GROUP BY doc_id
)
SELECT doc_id, n,
       floor((CAST(q0 AS DOUBLE)
              - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS activity,
       CASE WHEN n >= 2
                 AND (CAST(q0 AS DOUBLE)
                      - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE) > 0
            THEN floor(sqrt(((CAST(q1 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                / CAST(n - 1 AS DOUBLE))
                             / CAST(n - 1 AS DOUBLE))
                            / ((CAST(q0 AS DOUBLE)
                                - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                                  / CAST(n AS DOUBLE))
                               / CAST(n AS DOUBLE)))
                       * 1000000 + 0.5) / 1000000 END AS mobility,
       CASE WHEN n >= 3
                 AND (CAST(q1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                        / CAST(n - 1 AS DOUBLE))
                     / CAST(n - 1 AS DOUBLE) > 0
                 AND (CAST(q0 AS DOUBLE)
                      - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE) > 0
            THEN floor(sqrt(((CAST(q2 AS DOUBLE)
                              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                                / CAST(n - 2 AS DOUBLE))
                             / CAST(n - 2 AS DOUBLE))
                            / ((CAST(q1 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                  / CAST(n - 1 AS DOUBLE))
                               / CAST(n - 1 AS DOUBLE)))
                       / sqrt(((CAST(q1 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                  / CAST(n - 1 AS DOUBLE))
                               / CAST(n - 1 AS DOUBLE))
                              / ((CAST(q0 AS DOUBLE)
                                  - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                                 / CAST(n AS DOUBLE)))
                       * 1000000 + 0.5) / 1000000 END AS complexity
FROM agg
"""


def _q_katz_fd(spark, sf_dir):
    """Katz waveform fractal dimension per signal (operators/dynamics
    .katz_fd, Katz 1988): exact int64 curve length Σ|Δ| and planar
    extent max|x_i − x_1| in-row, D = ln(m)/(ln(m)+ln(d)−ln(L)) as one
    fixed float expression — zero Python, zero joins."""
    from eristropy_spark.operators.dynamics import katz_fd

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = katz_fd(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "curve_len", "extent", _r6("kfd").alias("kfd")
    )


_ORACLE_KATZ = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id,
         CAST(tok - lag(tok) OVER w AS BIGINT) AS d,
         CAST(tok AS BIGINT)
           - CAST(first_value(tok) OVER w2 AS BIGINT) AS e
  FROM pts
  WINDOW w AS (PARTITION BY doc_id ORDER BY i),
         w2 AS (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n,
         CAST(coalesce(sum(abs(d)), 0) AS BIGINT) AS curve_len,
         CAST(max(abs(e)) AS BIGINT) AS extent
  FROM dif GROUP BY doc_id
)
SELECT doc_id, n, curve_len, extent,
       CASE WHEN n >= 3 AND curve_len > 0 AND extent > 0
                 AND ln(CAST(n - 1 AS DOUBLE))
                     + ln(CAST(extent AS DOUBLE))
                     - ln(CAST(curve_len AS DOUBLE)) <> 0
            THEN floor(ln(CAST(n - 1 AS DOUBLE))
                       / (ln(CAST(n - 1 AS DOUBLE))
                          + ln(CAST(extent AS DOUBLE))
                          - ln(CAST(curve_len AS DOUBLE)))
                       * 1000000 + 0.5) / 1000000 END AS kfd
FROM agg
"""



def _q_multiscale_entropy(spark, sf_dir):
    """Costa multiscale SampEn curve per signal (operators/mse
    .multiscale_entropy, Costa et al. 2002): z-norm once from exact
    int64 sums, coarse-grain at scales 1..3 (complete windows), then
    SampEn(m=2, r=0.2) with the tolerance fixed at scale 1 — coarse
    values are fixed float expressions of exact integers, so the
    match counts replay bit-exactly in DuckDB.  ONE Arrow boundary,
    zero shuffle beyond tokenize's own."""
    from eristropy_spark.operators.mse import multiscale_entropy

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = multiscale_entropy(
        tokens, array_col="tokens", keep_cols=("doc_id",), scales=(1, 2, 3)
    )
    return r.select(
        "doc_id", "scale", "n_coarse", "b_cnt", "a_cnt",
        _r6("sampen").alias("sampen"),
    )


_ORACLE_MSE = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), st AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n,
         CAST(sum(tok) AS BIGINT) AS s,
         CAST(sum(CAST(tok AS BIGINT) * CAST(tok AS BIGINT)) AS BIGINT) AS q
  FROM pts GROUP BY doc_id
), sc AS (
  SELECT CAST(unnest([1, 2, 3]) AS INT) AS scale
), grid AS (
  SELECT st.doc_id, st.n, st.s, st.q, sc.scale,
         CAST(st.n // sc.scale AS INT) AS nc
  FROM st CROSS JOIN sc
), coarse AS (
  SELECT p.doc_id, sc.scale, (p.i - 1) // sc.scale AS gidx,
         CAST(sum(p.tok) AS BIGINT) AS t
  FROM pts p CROSS JOIN sc
  GROUP BY p.doc_id, sc.scale, (p.i - 1) // sc.scale
  HAVING count(*) = sc.scale
), cz AS (
  SELECT c.doc_id, c.scale, c.gidx,
         (CAST(c.t AS DOUBLE) / CAST(c.scale AS DOUBLE)
          - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
         / sqrt((CAST(st.q AS DOUBLE)
                 - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)
                   / CAST(st.n AS DOUBLE))
                / CAST(st.n - 1 AS DOUBLE)) AS zv,
         st.n // c.scale AS nc
  FROM coarse c JOIN st USING (doc_id)
), cz2 AS (
  SELECT doc_id, scale, gidx, nc, zv,
         lead(zv) OVER (PARTITION BY doc_id, scale ORDER BY gidx) AS zv1
  FROM cz
), pairs AS (
  SELECT a.doc_id, a.scale,
         count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2) AS b_cnt,
         count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2
                            AND abs(a.zv1 - b.zv1) < 0.2) AS a_cnt
  FROM cz2 a JOIN cz2 b
    ON a.doc_id = b.doc_id AND a.scale = b.scale
   AND a.gidx < b.gidx AND b.gidx <= a.nc - 2
  GROUP BY a.doc_id, a.scale
)
SELECT g.doc_id, g.scale, g.nc AS n_coarse,
       CAST(coalesce(p.b_cnt, 0) AS BIGINT) AS b_cnt,
       CAST(coalesce(p.a_cnt, 0) AS BIGINT) AS a_cnt,
       CASE WHEN coalesce(p.a_cnt, 0) > 0 AND coalesce(p.b_cnt, 0) > 0
            THEN floor(-ln(CAST(p.a_cnt AS DOUBLE)
                           / CAST(p.b_cnt AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 END AS sampen
FROM grid g LEFT JOIN pairs p
  ON p.doc_id = g.doc_id AND p.scale = g.scale
"""



def _q_ts_features(spark, sf_dir):
    """tsfresh-style per-signal feature battery (operators/tsfeatures
    .ts_features, Christ et al. 2018 catalogue): abs energy, range,
    above-mean count, mean crossings, longest strikes, mean abs
    change, CID-CE — every counting decision an exact integer
    cross-multiply (x·n vs S), zero Python, zero joins, only
    tokenize's Exchange."""
    from eristropy_spark.operators.tsfeatures import ts_features

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = ts_features(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "sum_x", "abs_energy", "rng", "n_above_mean",
        "n_crossings", "strike_above", "strike_below",
        _r6("mean_abs_change").alias("mean_abs_change"),
        _r6("cid_ce").alias("cid_ce"),
    )


_ORACLE_TSFEATURES = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), st AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n,
         CAST(sum(tok) AS BIGINT) AS s,
         CAST(sum(CAST(tok AS BIGINT) * CAST(tok AS BIGINT)) AS BIGINT)
           AS abs_energy,
         CAST(max(tok) - min(tok) AS BIGINT) AS rng
  FROM pts GROUP BY doc_id
), cs AS (
  SELECT p.doc_id, p.i,
         CASE WHEN CAST(p.tok AS BIGINT) * st.n > st.s THEN 1
              WHEN CAST(p.tok AS BIGINT) * st.n < st.s THEN -1
              ELSE 0 END AS c
  FROM pts p JOIN st USING (doc_id)
), cnt AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above_mean,
         CAST(coalesce(sum(CASE WHEN (pl > 0 AND c < 0)
                                  OR (pl < 0 AND c > 0)
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_crossings
  FROM (
    SELECT doc_id, c,
           lag(c) OVER (PARTITION BY doc_id ORDER BY i) AS pl
    FROM cs
  ) GROUP BY doc_id
), runs AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS len
  FROM (
    SELECT doc_id, c, i,
           i - row_number() OVER (PARTITION BY doc_id, c ORDER BY i)
             AS grp
    FROM cs WHERE c <> 0
  ) GROUP BY doc_id, c, grp
), strikes AS (
  SELECT doc_id,
         coalesce(max(CASE WHEN c = 1 THEN len END), 0) AS strike_above,
         coalesce(max(CASE WHEN c = -1 THEN len END), 0) AS strike_below
  FROM runs GROUP BY doc_id
), dsum AS (
  SELECT doc_id,
         CAST(coalesce(sum(abs(d)), 0) AS BIGINT) AS ad,
         CAST(coalesce(sum(d * d), 0) AS BIGINT) AS sd
  FROM (
    SELECT doc_id,
           CAST(tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
                AS BIGINT) AS d
    FROM pts
  ) WHERE d IS NOT NULL GROUP BY doc_id
)
SELECT st.doc_id, st.n, st.s AS sum_x, st.abs_energy, st.rng,
       cnt.n_above_mean, cnt.n_crossings,
       coalesce(k.strike_above, 0) AS strike_above,
       coalesce(k.strike_below, 0) AS strike_below,
       CASE WHEN st.n >= 2
            THEN floor(CAST(coalesce(ds.ad, 0) AS DOUBLE)
                       / CAST(st.n - 1 AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 END AS mean_abs_change,
       CASE WHEN st.n >= 2
            THEN floor(sqrt(CAST(coalesce(ds.sd, 0) AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 END AS cid_ce
FROM st
JOIN cnt USING (doc_id)
LEFT JOIN strikes k USING (doc_id)
LEFT JOIN dsum ds USING (doc_id)
"""


def _q_page_hinkley(spark, sf_dir):
    """Page-Hinkley sequential mean-shift detector per signal
    (operators/changepoint.page_hinkley, Page 1954; the streaming-
    drift form): running-mean-centered terms floor-rounded onto the
    6-dp grid, DECIMAL-exact running sums/min, per-key ph_max and
    first alarm index — one Exchange + one sort, zero Python."""
    from eristropy_spark.operators.changepoint import page_hinkley

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = page_hinkley(
        ev, key=["user_id", "event_type"], ts_col="ts",
        value_col="value", tiebreak_col="event_id",
        delta=0.5, lam=25.0,
    )
    return r.select(
        F.concat_ws(":", F.col("user_id"), F.col("event_type"))
         .alias("doc_id"),
        "n",
        _r6("ph_max").alias("ph_max"),
        "alarm_i",
    )


_ORACLE_PAGE_HINKLEY = """
WITH q AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS v
  FROM events
), r AS (
  SELECT user_id, event_type, v,
         row_number() OVER w AS i,
         sum(v) OVER wr AS s
  FROM q
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id),
         wr AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT user_id, event_type, i,
         CAST(floor((CAST(v AS DOUBLE)
                     - CAST(s AS DOUBLE) / CAST(i AS DOUBLE)
                     - 0.5)
                    * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(26, 6)) AS tq
  FROM r
), mm AS (
  SELECT user_id, event_type, i,
         sum(tq) OVER wr AS m
  FROM t
  WINDOW wr AS (PARTITION BY user_id, event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), ph AS (
  SELECT user_id, event_type, i,
         m - min(m) OVER wr AS ph
  FROM mm
  WINDOW wr AS (PARTITION BY user_id, event_type ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id || ':' || event_type AS doc_id,
       CAST(count(*) AS INT) AS n,
       floor(CAST(max(ph) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS ph_max,
       min(CASE WHEN ph > CAST(25.0 AS DECIMAL(26, 6)) THEN i END)
         AS alarm_i
FROM ph GROUP BY user_id, event_type
"""




def _q_mutual_info(spark, sf_dir):
    """Symbolic Shannon mutual information between source pairs
    (operators/infotheory.mutual_info_pairs, Shannon 1948): mean-
    symbolized 10-min bucket grids (exact u·n > S cross-multiply),
    2x2 contingency counts from ONE pair aggregate, the four
    plog-ratio terms 12-dp-quantized and integer-summed (order-free)
    — bucket equi-joins only, zero Python."""
    from eristropy_spark.operators.infotheory import mutual_info_pairs

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = mutual_info_pairs(
        ev, source_col="event_type", ts_col="ts", value_col="value",
        bucket_sec=600, min_overlap=8,
    )
    return r.select(
        "source_x", "source_y", "n", "c00", "c01", "c10", "c11",
        _r6("mi").alias("mi"),
    )


def _q_transfer_entropy(spark, sf_dir):
    """Schreiber 2000 transfer entropy TE(X->Y), k=l=1, over binary
    mean symbols (operators/infotheory.transfer_entropy_pairs): the
    nonlinear directional complement of granger — (y_t, y_{t-1},
    x_{t-1}) triple alignment by bucket equi-joins, 2x2x2 counts from
    ONE pair aggregate, eight 12-dp-quantized plog terms integer-
    summed; zero Python."""
    from eristropy_spark.operators.infotheory import transfer_entropy_pairs

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = transfer_entropy_pairs(
        ev, source_col="event_type", ts_col="ts", value_col="value",
        bucket_sec=600, min_overlap=8,
    )
    cells = [f"c{j}{k}{l}" for j in (0, 1) for k in (0, 1) for l in (0, 1)]
    return r.select(
        "source_x", "source_y", "n", *cells, _r6("te").alias("te")
    )


def _sql_plog(c: str, num: str, den: str) -> str:
    """The 12-dp-quantized (c/n)*ln(num/den) plog term, exact BIGINT."""
    return (
        f"CASE WHEN {c} > 0 THEN "
        f"CAST(floor(CAST({c} AS DOUBLE) / CAST(n AS DOUBLE) "
        f"* ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) "
        f"* 1000000000000.0 + 0.5) AS BIGINT) ELSE 0 END"
    )


_SQL_SYMBOL_GRID = """grid AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         CAST(floor((floor(avg(value) * 1000000.0 + 0.5) / 1000000.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS u
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nsrc,
         CAST(sum(u) AS BIGINT) AS ssrc
  FROM grid GROUP BY source
), sg AS (
  SELECT g.source, g.bucket,
         CASE WHEN g.u * t.nsrc > t.ssrc THEN 1 ELSE 0 END AS s
  FROM grid g JOIN st t USING (source)
)"""


def _oracle_mutual_info() -> str:
    """DuckDB replay of mutual_info_pairs: symbol grid, 2x2 counts,
    the four quantized plog terms summed as BIGINT."""
    t00 = _sql_plog("c00", "c00 * n", "(c00 + c01) * (c00 + c10)")
    t01 = _sql_plog("c01", "c01 * n", "(c00 + c01) * (c01 + c11)")
    t10 = _sql_plog("c10", "c10 * n", "(c10 + c11) * (c00 + c10)")
    t11 = _sql_plog("c11", "c11 * n", "(c10 + c11) * (c01 + c11)")
    return f"""
WITH {_SQL_SYMBOL_GRID}, pairs AS (
  SELECT x.source AS source_x, y.source AS source_y,
         x.s AS sx, y.s AS sy
  FROM sg x JOIN sg y ON x.bucket = y.bucket AND x.source < y.source
), agg AS (
  SELECT source_x, source_y, CAST(count(*) AS BIGINT) AS n,
         CAST(sum((1 - sx) * (1 - sy)) AS BIGINT) AS c00,
         CAST(sum((1 - sx) * sy) AS BIGINT) AS c01,
         CAST(sum(sx * (1 - sy)) AS BIGINT) AS c10,
         CAST(sum(sx * sy) AS BIGINT) AS c11
  FROM pairs GROUP BY source_x, source_y
  HAVING count(*) >= 8
)
SELECT source_x, source_y, n, c00, c01, c10, c11,
       floor(CAST({t00}
                  + {t01}
                  + {t10}
                  + {t11} AS DOUBLE)
             / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS mi
FROM agg
"""


def _oracle_transfer_entropy() -> str:
    """DuckDB replay of transfer_entropy_pairs: symbol grid, granger-
    style triple alignment, 2x2x2 counts, eight quantized plog terms
    summed as BIGINT."""
    cells = [(j, k, l) for j in (0, 1) for k in (0, 1) for l in (0, 1)]
    terms = []
    for j, k, l in cells:
        cjkl = f"c{j}{k}{l}"
        m_kl = f"(c0{k}{l} + c1{k}{l})"
        r_jk = f"(c{j}{k}0 + c{j}{k}1)"
        m_k = f"(c0{k}0 + c0{k}1 + c1{k}0 + c1{k}1)"
        terms.append(_sql_plog(cjkl, f"{cjkl} * {m_k}", f"{m_kl} * {r_jk}"))
    cellsum = ",\n         ".join(
        f"CAST(sum({'z' if j else '(1 - z)'} * {'u' if k else '(1 - u)'}"
        f" * {'w' if l else '(1 - w)'}) AS BIGINT) AS c{j}{k}{l}"
        for j, k, l in cells
    )
    te_sum = "\n                  + ".join(terms)
    cols = ", ".join(f"c{j}{k}{l}" for j, k, l in cells)
    return f"""
WITH {_SQL_SYMBOL_GRID}, triples AS (
  SELECT x.source AS source_x, yt.source AS source_y,
         yt.s AS z, y.s AS u, x.s AS w
  FROM sg yt
  JOIN sg y ON y.source = yt.source AND y.bucket = yt.bucket - 1
  JOIN sg x ON x.bucket = yt.bucket - 1 AND x.source <> yt.source
), agg AS (
  SELECT source_x, source_y, CAST(count(*) AS BIGINT) AS n,
         {cellsum}
  FROM triples GROUP BY source_x, source_y
  HAVING count(*) >= 8
)
SELECT source_x, source_y, n, {cols},
       floor(CAST({te_sum} AS DOUBLE)
             / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS te
FROM agg
"""




def _q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters triple smoothing per user (operators/
    smoothing.holt_winters, Winters 1960): classical two-season init
    from exact integer sums, then the literal three-state recursion —
    replayed bit-for-bit by a DuckDB recursive CTE carrying the
    seasonal ring as a LIST column (the holt protocol, extended with
    list state).  ONE key shuffle, sequential-scan class."""
    from eristropy_spark.operators.smoothing import holt_winters

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = holt_winters(
        ev, "user_id", period=7, alpha=0.3, beta=0.1, gamma=0.2,
        tiebreak_col="event_id",
    )
    return r.select(
        "user_id", "event_id", "i",
        _r6("level").alias("level"),
        _r6("trend").alias("trend"),
        _r6("seasonal").alias("seasonal"),
        _r6("fitted").alias("fitted"),
    )


_ORACLE_HW = """
WITH RECURSIVE pts AS (
  SELECT user_id, event_id,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), base AS (
  SELECT user_id,
         CAST(sum(CASE WHEN i <= 7 THEN u ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN i > 7 AND i <= 14 THEN u ELSE 0 END)
              AS BIGINT) AS s2
  FROM pts WHERE n >= 14 AND i <= 14 GROUP BY user_id
), init AS (
  SELECT user_id,
         (CAST(s1 AS DOUBLE) / 1000000.0) / 7 AS l0,
         ((CAST(s2 - s1 AS DOUBLE)) / 1000000.0) / 49 AS b0
  FROM base
), seas0 AS (
  SELECT p.user_id,
         list(CAST(p.u AS DOUBLE) / 1000000.0 - i2.l0 ORDER BY p.i)
           AS seas
  FROM pts p JOIN init i2 USING (user_id)
  WHERE p.i <= 7 GROUP BY p.user_id
), rec AS (
  SELECT i2.user_id, CAST(7 AS BIGINT) AS t,
         i2.l0 AS level, i2.b0 AS trend,
         CAST(NULL AS DOUBLE) AS s_new, CAST(NULL AS DOUBLE) AS fitted,
         s0.seas AS seas
  FROM init i2 JOIN seas0 s0 USING (user_id)
  UNION ALL
  SELECT user_id, t,
         lvl AS level,
         0.1 * (lvl - pl) + (1.0 - 0.1) * pb AS trend,
         0.2 * (x - lvl) + (1.0 - 0.2) * su AS s_new,
         pl + pb + su AS fitted,
         list_concat(rest, [0.2 * (x - lvl) + (1.0 - 0.2) * su]) AS seas
  FROM (
    SELECT r.user_id, r.t + 1 AS t,
           CAST(p.u AS DOUBLE) / 1000000.0 AS x,
           r.level AS pl, r.trend AS pb,
           r.seas[1] AS su,
           r.seas[2:7] AS rest,
           0.3 * (CAST(p.u AS DOUBLE) / 1000000.0 - r.seas[1])
             + (1.0 - 0.3) * (r.level + r.trend) AS lvl
    FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.i = r.t + 1
  )
)
SELECT p.user_id, p.event_id, p.i,
       CAST(NULL AS DOUBLE) AS level,
       CAST(NULL AS DOUBLE) AS trend,
       floor((CAST(p.u AS DOUBLE) / 1000000.0 - i2.l0)
             * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
       CAST(NULL AS DOUBLE) AS fitted
FROM pts p JOIN init i2 USING (user_id)
WHERE p.i <= 7
UNION ALL
SELECT r.user_id, p.event_id, r.t AS i,
       floor(r.level * 1000000.0 + 0.5) / 1000000.0 AS level,
       floor(r.trend * 1000000.0 + 0.5) / 1000000.0 AS trend,
       floor(r.s_new * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
       floor(r.fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted
FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.i = r.t
WHERE r.t > 7
"""




def _q_dcca(spark, sf_dir):
    """Detrended cross-correlation rho_DCCA per source pair and scale
    (operators/dcca.dcca_pairs, Podobnik & Stanley 2008 / Zebende
    2011): exact int64 profiles on the aligned 10-min grid, per-box
    OLS detrending with granger's quantize-then-derive moment
    protocol, rho one final float ratio — keyed windows + equi-joins
    only, zero Python."""
    from eristropy_spark.operators.dcca import dcca_pairs

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = dcca_pairs(
        ev, source_col="event_type", ts_col="ts", value_col="value",
        bucket_sec=600, scales=(4, 8), min_overlap=32,
    )
    return r.select(
        "source_x", "source_y", "scale", "n", "n_boxes",
        _r6("rho").alias("rho"),
    )


_ORACLE_DCCA = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         CAST(floor(avg(value) * 100.0 + 0.5) AS BIGINT) AS u
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), pairs AS (
  SELECT x.source AS source_x, y.source AS source_y, x.bucket,
         x.u AS ux, y.u AS uy
  FROM grid x JOIN grid y ON x.bucket = y.bucket AND x.source < y.source
), staged AS (
  SELECT source_x, source_y, bucket, ux, uy,
         row_number() OVER wp AS t,
         count(*) OVER wfull AS n,
         sum(ux) OVER wpu AS cx, sum(uy) OVER wpu AS cy,
         sum(ux) OVER wfull AS sx, sum(uy) OVER wfull AS sy
  FROM pairs
  WINDOW wp AS (PARTITION BY source_x, source_y ORDER BY bucket),
         wpu AS (PARTITION BY source_x, source_y ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wfull AS (PARTITION BY source_x, source_y)
), prof AS (
  SELECT source_x, source_y, t, n,
         CAST(n * cx - t * sx AS DOUBLE) / CAST(n AS DOUBLE) AS yvx,
         CAST(n * cy - t * sy AS DOUBLE) / CAST(n AS DOUBLE) AS yvy
  FROM staged WHERE n >= 32
), scaled AS (
  SELECT p.*, s.scale, (p.t - 1) // s.scale AS g
  FROM prof p CROSS JOIN (
    SELECT CAST(unnest([4, 8]) AS INT) AS scale
  ) s
), boxed AS (
  SELECT source_x, source_y, scale, g, n,
         t - first_value(t) OVER wb + 1 AS tp,
         yvx - first_value(yvx) OVER wb AS zx,
         yvy - first_value(yvy) OVER wb AS zy
  FROM scaled
  WINDOW wb AS (PARTITION BY source_x, source_y, scale, g ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT source_x, source_y, scale, g, max(n) AS n, count(*) AS cnt,
         sum(CAST(floor(zx * 1000000.0 + 0.5) AS BIGINT)) AS qzx,
         sum(CAST(floor(zy * 1000000.0 + 0.5) AS BIGINT)) AS qzy,
         sum(CAST(floor(zx * zx * 1000000.0 + 0.5) AS BIGINT)) AS qxx,
         sum(CAST(floor(zy * zy * 1000000.0 + 0.5) AS BIGINT)) AS qyy,
         sum(CAST(floor(zx * zy * 1000000.0 + 0.5) AS BIGINT)) AS qxy,
         sum(CAST(floor(CAST(tp AS DOUBLE) * zx * 1000000.0 + 0.5)
                  AS BIGINT)) AS qtx,
         sum(CAST(floor(CAST(tp AS DOUBLE) * zy * 1000000.0 + 0.5)
                  AS BIGINT)) AS qty
  FROM boxed
  GROUP BY source_x, source_y, scale, g
  HAVING count(*) = scale
), boxm AS (
  SELECT source_x, source_y, scale, n,
         CAST(scale AS DOUBLE) AS m,
         CAST(scale * (scale + 1) AS DOUBLE) / 2 AS st,
         CAST(scale * (scale + 1) * (2 * scale + 1) AS DOUBLE) / 6 AS stt,
         CAST(qzx AS DOUBLE) / 1000000.0 AS szx,
         CAST(qzy AS DOUBLE) / 1000000.0 AS szy,
         CAST(qxx AS DOUBLE) / 1000000.0 AS sxx,
         CAST(qyy AS DOUBLE) / 1000000.0 AS syy,
         CAST(qxy AS DOUBLE) / 1000000.0 AS sxy,
         CAST(qtx AS DOUBLE) / 1000000.0 AS stx,
         CAST(qty AS DOUBLE) / 1000000.0 AS sty
  FROM agg
), box AS (
  SELECT source_x, source_y, scale, n,
         CAST(floor(((sxy - szx * szy / m)
                     - (stx - st * szx / m) * (sty - st * szy / m)
                       / (stt - st * st / m))
                    * 1000000.0 + 0.5) AS BIGINT) AS bxy,
         CAST(floor(((sxx - szx * szx / m)
                     - (stx - st * szx / m) * (stx - st * szx / m)
                       / (stt - st * st / m))
                    * 1000000.0 + 0.5) AS BIGINT) AS bxx,
         CAST(floor(((syy - szy * szy / m)
                     - (sty - st * szy / m) * (sty - st * szy / m)
                       / (stt - st * st / m))
                    * 1000000.0 + 0.5) AS BIGINT) AS byy
  FROM boxm
), fin AS (
  SELECT source_x, source_y, scale,
         CAST(max(n) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_boxes,
         sum(bxy) AS ssrxy, sum(bxx) AS ssrxx, sum(byy) AS ssryy
  FROM box GROUP BY source_x, source_y, scale
)
SELECT source_x, source_y, scale, n, n_boxes,
       CASE WHEN ssrxx > 0 AND ssryy > 0
            THEN floor(CAST(ssrxy AS DOUBLE)
                       / sqrt(CAST(ssrxx AS DOUBLE)
                              * CAST(ssryy AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 END AS rho
FROM fin
"""




def _q_overdispersion(spark, sf_dir):
    """Dean's Poisson overdispersion score per source
    (operators/dispersion.overdispersion_score, Dean & Lawless 1989):
    P_B = Σ[(y−ȳ)²−y]/(ȳ√(2n)) — the calibrated z for the Fano
    factor, closing the count triptych with zero_inflation.  Empty
    buckets fold in closed form (each adds ȳ²), so only the non-empty
    census is touched; ONE fixed float expression over exact
    integers."""
    from eristropy_spark.operators.dispersion import overdispersion_score

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = overdispersion_score(
        ev, source_col="event_type", ts_col="ts",
        bucket_sec=600, min_buckets=8,
    )
    return r.select(
        "source",
        "n_events",
        "n_buckets",
        _r6("mean_count").alias("mean_count"),
        _r6("p_b").alias("p_b"),
    )


_ORACLE_OVERDISPERSION = """
WITH cts AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), red AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(sum(c * c) AS BIGINT) AS sq,
         CAST(max(bucket) - min(bucket) + 1 AS BIGINT) AS n_buckets
  FROM cts GROUP BY source
), st AS (
  SELECT source, n_events, n_buckets,
         CAST(n_buckets AS DOUBLE) AS nd,
         CAST(n_events AS DOUBLE) AS ne,
         CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS ybar,
         CAST(sq AS DOUBLE) AS sqd
  FROM red
)
SELECT source, n_events, n_buckets,
       floor(ybar * 1000000 + 0.5) / 1000000 AS mean_count,
       CASE WHEN n_buckets >= 8 AND n_events > 0 THEN
         floor(((sqd - 2.0 * ybar * ne + nd * ybar * ybar) - ne)
               / (ybar * sqrt(2.0 * nd)) * 1000000 + 0.5) / 1000000
       END AS p_b
FROM st
"""


def _q_zero_inflation(spark, sf_dir):
    """van den Broek zero-inflation score test per source
    (operators/dispersion.zero_inflation, van den Broek 1995): more
    empty buckets than the Poisson rate explains?  n₀ = span −
    distinct non-empty buckets — three exact integers off ONE census,
    NO dense explode; S one fixed float expression with a single
    exp() (the pettitt rule)."""
    from eristropy_spark.operators.dispersion import zero_inflation

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = zero_inflation(
        ev, source_col="event_type", ts_col="ts",
        bucket_sec=600, min_buckets=8,
    )
    return r.select(
        "source",
        "n_events",
        "n_buckets",
        "n_zero",
        _r6("zero_frac").alias("zero_frac"),
        _r6("p0").alias("p0"),
        _r6("score").alias("score"),
    )


_ORACLE_ZERO_INFLATION = """
WITH cts AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), red AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS nnz,
         CAST(max(bucket) - min(bucket) + 1 AS BIGINT) AS n_buckets
  FROM cts GROUP BY source
), st AS (
  SELECT source, n_events, n_buckets,
         CAST(n_buckets - nnz AS BIGINT) AS n_zero,
         CAST(n_buckets AS DOUBLE) AS nd,
         CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS ybar
  FROM red
), zz AS (
  SELECT *, exp(-ybar) AS p0 FROM st
)
SELECT source, n_events, n_buckets, n_zero,
       floor(CAST(n_zero AS DOUBLE) / nd * 1000000 + 0.5)
         / 1000000 AS zero_frac,
       floor(p0 * 1000000 + 0.5) / 1000000 AS p0,
       CASE WHEN n_buckets >= 8
                 AND nd * p0 * (1.0 - p0) - nd * ybar * p0 * p0 > 0.0
            THEN floor(
              (CAST(n_zero AS DOUBLE) - nd * p0)
              * (CAST(n_zero AS DOUBLE) - nd * p0)
              / (nd * p0 * (1.0 - p0) - nd * ybar * p0 * p0)
              * 1000000 + 0.5) / 1000000
       END AS score
FROM zz
"""


def _q_count_dispersion(spark, sf_dir):
    """Fano factor + Allan variance of the bucketed event-count series
    per source (operators/dispersion.count_dispersion, Fano 1947 /
    Allan 1966): exact integer counts, zero-run algebra instead of a
    dense explode (a gap of g empty buckets charges a²+b² in closed
    form), one keyed window + two aggregates, zero Python."""
    from eristropy_spark.operators.dispersion import count_dispersion

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = count_dispersion(
        ev, source_col="event_type", ts_col="ts",
        bucket_sec=600, min_buckets=8,
    )
    return r.select(
        "source", "n_events", "n_buckets",
        _r6("mean_count").alias("mean_count"),
        _r6("fano").alias("fano"),
        _r6("avar").alias("avar"),
        _r6("avar_ratio").alias("avar_ratio"),
    )


_ORACLE_DISPERSION = """
WITH cts AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), lagged AS (
  SELECT source, bucket, c,
         lag(bucket) OVER w AS pb, lag(c) OVER w AS pc
  FROM cts WINDOW w AS (PARTITION BY source ORDER BY bucket)
), agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(max(bucket) - min(bucket) + 1 AS BIGINT) AS n_buckets,
         CAST(sum(c * c) AS BIGINT) AS sq,
         CAST(sum(CASE WHEN pb IS NULL THEN 0
                       WHEN bucket = pb + 1 THEN (c - pc) * (c - pc)
                       ELSE pc * pc + c * c END) AS BIGINT) AS dsq
  FROM lagged GROUP BY source
  HAVING max(bucket) - min(bucket) + 1 >= 8
)
SELECT source, n_events, n_buckets,
       floor(CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS mean_count,
       CASE WHEN n_events > 0 THEN
         floor(((CAST(sq AS DOUBLE)
                 - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
                   / CAST(n_buckets AS DOUBLE))
                / CAST(n_buckets AS DOUBLE))
               / (CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE))
               * 1000000 + 0.5) / 1000000 END AS fano,
       floor(CAST(dsq AS DOUBLE) / (CAST(n_buckets AS DOUBLE) - 1.0) / 2.0
             * 1000000 + 0.5) / 1000000 AS avar,
       CASE WHEN n_events > 0 THEN
         floor((CAST(dsq AS DOUBLE) / (CAST(n_buckets AS DOUBLE) - 1.0)
                / 2.0)
               / (CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE))
               * 1000000 + 0.5) / 1000000 END AS avar_ratio
FROM agg
"""


def _q_tail_dependence(spark, sf_dir):
    """Upper-tail co-exceedance between source pairs (operators/
    taildep.tail_dependence, Coles-Heffernan-Tawn 1999 chi): strict
    integer order-statistic thresholds (rank, never an interpolated
    quantile), exact exceedance counts, lift/jaccard one fixed float
    expression each — keyed window + broadcast thresholds + bucket
    equi-joins, zero Python."""
    from eristropy_spark.operators.taildep import tail_dependence

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    r = tail_dependence(
        ev, source_col="event_type", ts_col="ts", value_col="value",
        bucket_sec=600, q_pct=75, min_overlap=8,
    )
    return r.select(
        "source_x", "source_y", "n", "c_x", "c_y", "c_both",
        _r6("lift").alias("lift"),
        _r6("jaccard").alias("jaccard"),
    )


_ORACLE_TAILDEP = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         CAST(floor(avg(value) * 100.0 + 0.5) AS BIGINT) AS u
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), ranked AS (
  SELECT source, bucket, u,
         row_number() OVER (PARTITION BY source ORDER BY u, bucket)
           AS rk,
         count(*) OVER (PARTITION BY source) AS ns
  FROM grid
), thr AS (
  SELECT source,
         max(CASE WHEN rk <= CAST(floor((75 * ns + 99) / 100.0)
                               AS BIGINT)
                  THEN u END) AS thr
  FROM ranked GROUP BY source
), sg AS (
  SELECT g.source, g.bucket,
         CASE WHEN g.u > t.thr THEN 1 ELSE 0 END AS e
  FROM grid g JOIN thr t USING (source)
), pairs AS (
  SELECT x.source AS source_x, y.source AS source_y,
         x.e AS ex, y.e AS ey
  FROM sg x JOIN sg y ON x.bucket = y.bucket AND x.source < y.source
), agg AS (
  SELECT source_x, source_y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ex) AS BIGINT) AS c_x,
         CAST(sum(ey) AS BIGINT) AS c_y,
         CAST(sum(ex * ey) AS BIGINT) AS c_both
  FROM pairs GROUP BY source_x, source_y
  HAVING count(*) >= 8
)
SELECT source_x, source_y, n, c_x, c_y, c_both,
       CASE WHEN c_x > 0 AND c_y > 0
            THEN floor(CAST(n * c_both AS DOUBLE)
                       / CAST(c_x * c_y AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 END AS lift,
       CASE WHEN c_x + c_y - c_both > 0
            THEN floor(CAST(c_both AS DOUBLE)
                       / CAST(c_x + c_y - c_both AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 END AS jaccard
FROM agg
"""


def _q_poincare(spark, sf_dir):
    """Poincaré-plot SD1/SD2 geometry per signal (operators/nonlinear
    .poincare, Brennan et al. 2001): exact int64 signal and increment
    moments in-row, sample variances and the two correctly-rounded
    sqrts as fixed float expressions — zero Python, zero joins, only
    tokenize's Exchange, O(n) per signal."""
    from eristropy_spark.operators.nonlinear import poincare

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = poincare(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n",
        _r6("sd1").alias("sd1"),
        _r6("sd2").alias("sd2"),
        _r6("ratio").alias("ratio"),
        _r6("area").alias("area"),
    )


_ORACLE_POINCARE = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id,
         CAST(tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
              AS BIGINT) AS d
  FROM pts
), agg AS (
  SELECT p.doc_id,
         CAST(count(*) AS INT) AS n,
         CAST(sum(CAST(p.tok AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(p.tok AS BIGINT) * p.tok) AS BIGINT) AS sxx
  FROM pts p GROUP BY p.doc_id
  HAVING count(*) >= 3
), dagg AS (
  SELECT doc_id,
         CAST(sum(d) AS BIGINT) AS sd,
         CAST(sum(d * d) AS BIGINT) AS sdd
  FROM dif WHERE d IS NOT NULL GROUP BY doc_id
), v AS (
  SELECT a.doc_id, a.n,
         (CAST(a.n AS DOUBLE) * CAST(a.sxx AS DOUBLE)
          - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE))
         / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0)) AS var_x,
         ((CAST(a.n AS DOUBLE) - 1.0) * CAST(g.sdd AS DOUBLE)
          - CAST(g.sd AS DOUBLE) * CAST(g.sd AS DOUBLE))
         / ((CAST(a.n AS DOUBLE) - 1.0)
            * ((CAST(a.n AS DOUBLE) - 1.0) - 1.0)) AS var_d
  FROM agg a JOIN dagg g USING (doc_id)
), s AS (
  SELECT doc_id, n,
         sqrt(var_d / 2.0) AS sd1,
         sqrt(greatest(2.0 * var_x - var_d / 2.0, 0.0)) AS sd2
  FROM v
)
SELECT doc_id, n,
       floor(sd1 * 1000000 + 0.5) / 1000000 AS sd1,
       floor(sd2 * 1000000 + 0.5) / 1000000 AS sd2,
       CASE WHEN sd2 > 0.0
            THEN floor(sd1 / sd2 * 1000000 + 0.5) / 1000000 END AS ratio,
       floor(3.141592653589793 * sd1 * sd2 * 1000000 + 0.5) / 1000000
         AS area
FROM s
"""


def _q_ordinal_census(spark, sf_dir):
    """Order-3 ordinal-pattern census per signal (operators/nonlinear
    .ordinal_census, Bandt-Pompe 2002 / Amigó forbidden patterns 2007):
    exact integer pattern counts via in-row code transform (stable tie
    rule matching kernels/permen.py), missing-pattern count, normalized
    m=3 permutation entropy as ONE fixed-order float expression —
    zero Python, zero joins, only tokenize's Exchange."""
    from eristropy_spark.operators.nonlinear import ordinal_census

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = ordinal_census(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "n_windows",
        "n012", "n021", "n102", "n120", "n201", "n210",
        "n_missing",
        _r6("pe3").alias("pe3"),
    )


_ORACLE_ORDINAL = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), tri AS (
  SELECT doc_id, tok AS a,
         lead(tok, 1) OVER w AS b,
         lead(tok, 2) OVER w AS c
  FROM pts WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), codes AS (
  SELECT doc_id,
         4 * (CASE WHEN b < a THEN 1 ELSE 0 END)
         + 2 * (CASE WHEN c < a THEN 1 ELSE 0 END)
         + (CASE WHEN c < b THEN 1 ELSE 0 END) AS code
  FROM tri WHERE c IS NOT NULL
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n012,
         CAST(sum(CASE WHEN code = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n021,
         CAST(sum(CASE WHEN code = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n102,
         CAST(sum(CASE WHEN code = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n120,
         CAST(sum(CASE WHEN code = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n201,
         CAST(sum(CASE WHEN code = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n210
  FROM codes GROUP BY doc_id
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
  HAVING count(*) >= 3
)
SELECT nn.doc_id, nn.n, a.n_windows,
       a.n012, a.n021, a.n102, a.n120, a.n201, a.n210,
       CAST((CASE WHEN a.n012 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.n021 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.n102 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.n120 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.n201 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.n210 = 0 THEN 1 ELSE 0 END) AS INT)
         AS n_missing,
       floor(-(
           (CASE WHEN a.n012 > 0 THEN (CAST(a.n012 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) * ln(CAST(a.n012 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN a.n021 > 0 THEN (CAST(a.n021 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) * ln(CAST(a.n021 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN a.n102 > 0 THEN (CAST(a.n102 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) * ln(CAST(a.n102 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN a.n120 > 0 THEN (CAST(a.n120 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) * ln(CAST(a.n120 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN a.n201 > 0 THEN (CAST(a.n201 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) * ln(CAST(a.n201 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN a.n210 > 0 THEN (CAST(a.n210 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) * ln(CAST(a.n210 AS DOUBLE)
             / CAST(a.n_windows AS DOUBLE)) ELSE 0.0 END)
         ) / ln(6.0) * 1000000 + 0.5) / 1000000 AS pe3
FROM nn JOIN agg a USING (doc_id)
"""


def _q_rqa(spark, sf_dir):
    """Recurrence quantification per signal (operators/nonlinear.rqa,
    Zbilut-Webber 1992 / Marwan 2007): exact integer recurrence and
    diagonal-line pair counts over the upper triangle with a per-signal
    integer radius (range // 5) — in-row O(n²) like SampEn, zero
    Python, zero joins, only tokenize's Exchange."""
    from eristropy_spark.operators.nonlinear import rqa

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = rqa(tokens, array_col="tokens", keep_cols=("doc_id",), radius_div=5)
    return r.select(
        "doc_id", "n", "r", "n_pairs", "n_rec", "n_line",
        _r6("rr").alias("rr"),
        _r6("det").alias("det"),
    )


_ORACLE_RQA = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS p
  FROM events
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n,
         CAST(floor((CAST(max(tok) AS DOUBLE) - min(tok)) / 5)
              AS BIGINT) AS r
  FROM pts GROUP BY doc_id
  HAVING count(*) >= 2
), rec AS (
  SELECT a.doc_id, a.p AS i, b.p AS j,
         CASE WHEN abs(CAST(a.tok AS BIGINT) - b.tok) <= nn.r
              THEN 1 ELSE 0 END AS e
  FROM pts a
  JOIN pts b ON b.doc_id = a.doc_id AND b.p > a.p
  JOIN nn ON nn.doc_id = a.doc_id
), lined AS (
  SELECT x.doc_id, x.e,
         CASE WHEN x.e = 1
                   AND (coalesce(pv.e, 0) = 1 OR coalesce(nx.e, 0) = 1)
              THEN 1 ELSE 0 END AS l
  FROM rec x
  LEFT JOIN rec pv ON pv.doc_id = x.doc_id
                  AND pv.i = x.i - 1 AND pv.j = x.j - 1
  LEFT JOIN rec nx ON nx.doc_id = x.doc_id
                  AND nx.i = x.i + 1 AND nx.j = x.j + 1
), agg AS (
  SELECT doc_id,
         CAST(sum(e) AS BIGINT) AS n_rec,
         CAST(sum(l) AS BIGINT) AS n_line
  FROM lined GROUP BY doc_id
)
SELECT nn.doc_id, nn.n, nn.r,
       CAST(CAST(nn.n AS BIGINT) * (CAST(nn.n AS BIGINT) - 1) / 2
            AS BIGINT) AS n_pairs,
       a.n_rec, a.n_line,
       floor(CAST(a.n_rec AS DOUBLE)
             / (CAST(nn.n AS BIGINT) * (CAST(nn.n AS BIGINT) - 1) / 2)
             * 1000000 + 0.5) / 1000000 AS rr,
       CASE WHEN a.n_rec > 0
            THEN floor(CAST(a.n_line AS DOUBLE) / CAST(a.n_rec AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 END AS det
FROM nn JOIN agg a USING (doc_id)
"""


def _q_arch_lm(spark, sf_dir):
    """Engle's one-lag ARCH LM volatility-clustering test per signal
    (operators/randomtests.arch_lm, Engle 1982): exact squared-increment
    lag-pair moments (DECIMAL(38,0) in Spark ≡ HUGEINT in the oracle —
    s² overflows int64), R² and LM = N·R² as one fixed float expression
    each — zero Python, zero joins, only tokenize's Exchange."""
    from eristropy_spark.operators.randomtests import arch_lm

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = arch_lm(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "n_pairs",
        _r6("r2").alias("r2"),
        _r6("lm").alias("lm"),
    )


_ORACLE_ARCH_LM = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), dif AS (
  SELECT doc_id, i,
         CAST(tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
              AS BIGINT) AS d
  FROM pts
), sq AS (
  SELECT doc_id, i, d * d AS s FROM dif WHERE d IS NOT NULL
), pr AS (
  SELECT doc_id,
         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS u,
         s AS v
  FROM sq
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS np,
         CAST(sum(u) AS BIGINT) AS su,
         CAST(sum(v) AS BIGINT) AS sv,
         sum(CAST(u AS HUGEINT) * u) AS suu,
         sum(CAST(v AS HUGEINT) * v) AS svv,
         sum(CAST(u AS HUGEINT) * v) AS suv
  FROM pr WHERE u IS NOT NULL GROUP BY doc_id
  HAVING count(*) >= 3
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
), v AS (
  SELECT nn.doc_id, nn.n, a.np,
         CAST(a.np AS DOUBLE) * CAST(a.suv AS DOUBLE)
           - CAST(a.su AS DOUBLE) * CAST(a.sv AS DOUBLE) AS cov,
         CAST(a.np AS DOUBLE) * CAST(a.suu AS DOUBLE)
           - CAST(a.su AS DOUBLE) * CAST(a.su AS DOUBLE) AS varu,
         CAST(a.np AS DOUBLE) * CAST(a.svv AS DOUBLE)
           - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE) AS varv
  FROM nn JOIN agg a USING (doc_id)
)
SELECT doc_id, n, np AS n_pairs,
       CASE WHEN varu > 0.0 AND varv > 0.0
            THEN floor(cov * cov / (varu * varv) * 1000000 + 0.5)
                 / 1000000 END AS r2,
       CASE WHEN varu > 0.0 AND varv > 0.0
            THEN floor(CAST(np AS DOUBLE) * (cov * cov / (varu * varv))
                       * 1000000 + 0.5) / 1000000 END AS lm
FROM v
"""


def _q_record_stats(spark, sf_dir):
    """Upper/lower record counts per signal (operators/randomtests
    .record_stats, Glick 1978 / Krug 2007): exact integer record
    counts from an in-row running-extrema fold — zero Python, zero
    joins, only tokenize's Exchange, O(n) per signal."""
    from eristropy_spark.operators.randomtests import record_stats

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = record_stats(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "n_up", "n_down", "asym",
        _r6("rec_rate").alias("rec_rate"),
    )


_ORACLE_RECORDS = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), runx AS (
  SELECT doc_id, tok,
         max(tok) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS pmx,
         min(tok) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS pmn
  FROM pts
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n,
         CAST(sum(CASE WHEN pmx IS NULL OR tok > pmx
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN pmn IS NULL OR tok < pmn
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_down
  FROM runx GROUP BY doc_id
  HAVING count(*) >= 2
)
SELECT doc_id, n, n_up, n_down,
       CAST(n_up - n_down AS BIGINT) AS asym,
       floor(CAST(n_up + n_down AS DOUBLE)
             / (2.0 * CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS rec_rate
FROM agg
"""


def _q_kpss(spark, sf_dir):
    """KPSS level-stationarity test per signal (operators/econotests
    .kpss, Kwiatkowski–Phillips–Schmidt–Shin 1992): scaled demeaned
    series n·e_t = n·x_t − S keeps every quadratic form exact
    (DECIMAL(38,0) ≡ HUGEINT), integer Schwert bandwidth, one float
    ratio at the end — zero Python, zero joins, only tokenize's
    Exchange; O(n·l) per signal."""
    from eristropy_spark.operators.econotests import kpss

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = kpss(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "bandwidth",
        _r6("eta").alias("eta"),
        "reject_5pct",
    )


_ORACLE_KPSS = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(tok) AS BIGINT) AS s
  FROM pts GROUP BY doc_id HAVING count(*) >= 5
), bw AS (
  SELECT doc_id, n, s,
         CAST(len(list_filter(range(1, 17),
              j -> 100 * j * j * j * j <= 256 * n)) AS INT) AS l
  FROM agg
), u AS (
  SELECT p.doc_id, p.i,
         CAST(b.n * p.tok - b.s AS BIGINT) AS u,
         CAST(b.n * sum(p.tok) OVER (PARTITION BY p.doc_id ORDER BY p.i)
              - p.i * b.s AS BIGINT) AS ns
  FROM pts p JOIN bw b USING (doc_id)
), q AS (
  SELECT doc_id,
         sum(CAST(ns AS HUGEINT) * ns) AS qq,
         sum(CAST(u AS HUGEINT) * u) AS g0
  FROM u GROUP BY doc_id
), w AS (
  SELECT ua.doc_id,
         sum(CAST(b.l + 1 - (ub.i - ua.i) AS HUGEINT) * ua.u * ub.u) AS wl
  FROM u ua
  JOIN u ub ON ub.doc_id = ua.doc_id AND ub.i > ua.i
  JOIN bw b ON b.doc_id = ua.doc_id AND ub.i - ua.i <= b.l
  GROUP BY ua.doc_id
), fin AS (
  SELECT b.doc_id, CAST(b.n AS INT) AS n, b.l,
         q.qq, CAST(b.l + 1 AS HUGEINT) * q.g0
               + 2 * coalesce(w.wl, CAST(0 AS HUGEINT)) AS m
  FROM bw b
  JOIN q USING (doc_id)
  LEFT JOIN w USING (doc_id)
), eta AS (
  SELECT doc_id, n, l,
         CASE WHEN m > 0 THEN
           CAST(qq AS DOUBLE) * CAST(l + 1 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) END AS e
  FROM fin
)
SELECT doc_id, n, l AS bandwidth,
       CASE WHEN e IS NOT NULL
            THEN floor(e * 1000000 + 0.5) / 1000000 END AS eta,
       CASE WHEN e IS NOT NULL THEN e > 0.463 END AS reject_5pct
FROM eta
"""


def _q_durbin_watson(spark, sf_dir):
    """Durbin–Watson lag-1 autocorrelation statistic per signal
    (operators/econotests.durbin_watson, Durbin & Watson 1950):
    demeaning cancels in first differences, so DW = n²Σ(Δx)²/Σ(nx−S)²
    over exact integers — zero Python, zero joins, O(n) per signal,
    only tokenize's Exchange."""
    from eristropy_spark.operators.econotests import durbin_watson

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = durbin_watson(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n",
        _r6("dw").alias("dw"),
        _r6("rho1").alias("rho1"),
    )


_ORACLE_DW = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(tok) AS BIGINT) AS s
  FROM pts GROUP BY doc_id HAVING count(*) >= 2
), dif AS (
  SELECT doc_id,
         CAST(tok - lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
              AS BIGINT) AS d
  FROM pts
), sd AS (
  SELECT doc_id, sum(CAST(d AS HUGEINT) * d) AS sd2
  FROM dif WHERE d IS NOT NULL GROUP BY doc_id
), g AS (
  SELECT p.doc_id,
         sum(CAST(a.n * p.tok - a.s AS HUGEINT)
             * (a.n * p.tok - a.s)) AS g0
  FROM pts p JOIN agg a USING (doc_id) GROUP BY p.doc_id
), v AS (
  SELECT a.doc_id, CAST(a.n AS INT) AS n,
         CASE WHEN g.g0 > 0 THEN
           CAST(CAST(a.n AS HUGEINT) * a.n * sd.sd2 AS DOUBLE)
           / CAST(g.g0 AS DOUBLE) END AS dw
  FROM agg a JOIN sd USING (doc_id) JOIN g USING (doc_id)
)
SELECT doc_id, n,
       CASE WHEN dw IS NOT NULL
            THEN floor(dw * 1000000 + 0.5) / 1000000 END AS dw,
       CASE WHEN dw IS NOT NULL
            THEN floor((1.0 - dw / 2.0) * 1000000 + 0.5) / 1000000
            END AS rho1
FROM v
"""


def _q_kruskal_wallis(spark, sf_dir):
    """Kruskal–Wallis k-sample rank test across sources
    (operators/grouptests.kruskal_wallis, Kruskal & Wallis 1952):
    exact doubled midranks over the (group, value) census, tie-cube
    exact in DECIMAL(38,0), per-group R²/n terms 6-dp-quantized —
    census shuffle shape, the distinct-value window bounded by the
    value domain, zero Python."""
    from eristropy_spark.operators.grouptests import kruskal_wallis

    ev = _events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("int").alias("tok")
    )
    r = kruskal_wallis(ev, group_col="event_type", value_col="tok")
    return r.select(
        F.col("group").alias("grp"),
        "n",
        "r2_sum",
        _r6("mean_rank").alias("mean_rank"),
        _r6("h").alias("h"),
        _r6("h_adj").alias("h_adj"),
        "k",
        "n_total",
    )


_ORACLE_KRUSKAL = """
WITH pts AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS INT) AS v
  FROM events
), cnt AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY grp, v
), vals AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY v
), cum AS (
  SELECT v, t,
         CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cumt
  FROM vals
), j AS (
  SELECT c.grp, c.c, 2 * m.cumt - m.t + 1 AS r2
  FROM cnt c JOIN cum m USING (v)
), g AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n,
         sum(CAST(c AS HUGEINT) * r2) AS r2s
  FROM j GROUP BY grp
), ties AS (
  SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie FROM vals
), gtot AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(CAST(floor(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE)
                             / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
                        AS DECIMAL(38, 6))) AS DOUBLE) AS s
  FROM g
), st AS (
  SELECT k, nt, s, tie,
         CASE WHEN k >= 2 AND nt >= 2 THEN
           3.0 * s / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) + 1.0))
           - 3.0 * (CAST(nt AS DOUBLE) + 1.0) END AS h,
         1.0 - CAST(tie AS DOUBLE)
               / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                  * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE)) AS ctie
  FROM gtot CROSS JOIN ties
)
SELECT g.grp, g.n, CAST(g.r2s AS BIGINT) AS r2_sum,
       floor(CAST(g.r2s AS DOUBLE) / (2.0 * CAST(g.n AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS mean_rank,
       CASE WHEN st.h IS NOT NULL
            THEN floor(st.h * 1000000 + 0.5) / 1000000 END AS h,
       CASE WHEN st.h IS NOT NULL AND st.ctie > 0.0
            THEN floor(st.h / st.ctie * 1000000 + 0.5) / 1000000
            END AS h_adj,
       st.k, st.nt AS n_total
FROM g CROSS JOIN st
"""


def _q_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe robust Levene variance-homogeneity test across
    sources (operators/grouptests.brown_forsythe, Brown & Forsythe
    1974): exact doubled medians from the census order statistics,
    doubled deviations z2 exact, per-group T²/n terms 6-dp-quantized,
    one fixed float W — census shuffle shape, zero Python."""
    from eristropy_spark.operators.grouptests import brown_forsythe

    ev = _events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("int").alias("tok")
    )
    r = brown_forsythe(ev, group_col="event_type", value_col="tok")
    return r.select(
        F.col("group").alias("grp"),
        "n",
        "median",
        _r6("z_mean").alias("z_mean"),
        _r6("w_stat").alias("w_stat"),
        "df1",
        "df2",
    )


_ORACLE_BROWN_FORSYTHE = """
WITH pts AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS INT) AS v
  FROM events
), cnt AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY grp, v
), cum AS (
  SELECT grp, v, c,
         CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM cnt
), med AS (
  SELECT grp, max(n) AS n,
         CAST(min(CASE WHEN cm >= (n + 1) // 2 THEN v END) AS BIGINT)
         + CAST(min(CASE WHEN cm >= n // 2 + 1 THEN v END) AS BIGINT)
           AS m2
  FROM cum GROUP BY grp
), z AS (
  SELECT c.grp, c.c, m.n, m.m2,
         CAST(abs(2 * CAST(c.v AS BIGINT) - m.m2) AS BIGINT) AS z2
  FROM cnt c JOIN med m USING (grp)
), g AS (
  SELECT grp, max(n) AS n, max(m2) AS m2,
         sum(CAST(c AS HUGEINT) * z2) AS tj,
         sum(CAST(c AS HUGEINT) * z2 * z2) AS uj
  FROM z GROUP BY grp
), gtot AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         sum(tj) AS gt,
         CAST(sum(CAST(floor(CAST(tj AS DOUBLE) * CAST(tj AS DOUBLE)
                             / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
                        AS DECIMAL(38, 6))) AS DOUBLE) AS ssb4,
         CAST(sum(CAST(floor((CAST(uj AS DOUBLE)
                              - CAST(tj AS DOUBLE) * CAST(tj AS DOUBLE)
                                / CAST(n AS DOUBLE)) * 1000000 + 0.5)
                       / 1000000 AS DECIMAL(38, 6))) AS DOUBLE) AS ssw4
  FROM g
), st AS (
  SELECT k, nt,
         CASE WHEN k >= 2 AND nt > k AND ssw4 > 0.0 THEN
           (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE))
           / (CAST(k AS DOUBLE) - 1.0)
           * (ssb4 - CAST(gt AS DOUBLE) * CAST(gt AS DOUBLE)
                     / CAST(nt AS DOUBLE))
           / ssw4 END AS w
  FROM gtot
)
SELECT g.grp, g.n, CAST(g.m2 AS DOUBLE) / 2.0 AS median,
       floor(CAST(g.tj AS DOUBLE) / (2.0 * CAST(g.n AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS z_mean,
       CASE WHEN st.w IS NOT NULL
            THEN floor(st.w * 1000000 + 0.5) / 1000000 END AS w_stat,
       CAST(st.k - 1 AS INT) AS df1,
       CAST(st.nt - st.k AS BIGINT) AS df2
FROM g CROSS JOIN st
"""


def _q_friedman_page(spark, sf_dir):
    """Friedman blocked rank test + Page's L ordered trend across
    sources, blocks = hour buckets (operators/grouptests.friedman_page,
    Friedman 1937 / Page 1963): within-block doubled midranks, tie
    cubes, rank sums, SR² and S j·R all exact DECIMAL(38,0); chi2 /
    tie-corrected chi2 / Page z each ONE fixed float expression.  The
    blocked complement of kruskal_wallis: between-hour level drift
    cancels by construction.  Cells = exact S round(value*100) per
    (hour, event_type); incomplete hours drop (complete-block rule)."""
    from eristropy_spark.operators.grouptests import friedman_page

    ev = _events(spark, sf_dir)
    cells = ev.groupBy(
        F.date_trunc("hour", "ts").alias("block"),
        F.col("event_type").alias("treatment"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cell")
    )
    r = friedman_page(cells, "block", "treatment", "cell")
    return r.select(
        F.col("treatment").alias("trt"),
        "j",
        "n_blocks",
        "r2_sum",
        _r6("mean_rank").alias("mean_rank"),
        _r6("chi2").alias("chi2"),
        _r6("chi2_adj").alias("chi2_adj"),
        _r6("page_l").alias("page_l"),
        _r6("page_z").alias("page_z"),
        "k",
    )


_ORACLE_FRIEDMAN_PAGE = """
WITH cells AS (
  SELECT date_trunc('hour', ts) AS block, event_type AS trt,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), kk AS (
  SELECT CAST(count(DISTINCT trt) AS INT) AS k FROM cells
), blk AS (
  SELECT block, count(*) AS nr, count(DISTINCT trt) AS nt
  FROM cells GROUP BY block
), kept AS (
  SELECT c.block, c.trt, c.v
  FROM cells c JOIN blk b USING (block) CROSS JOIN kk
  WHERE b.nr = kk.k AND b.nt = kk.k
), ranked AS (
  SELECT block, trt, v,
         CAST(2 * rank() OVER (PARTITION BY block ORDER BY v)
              + count(*) OVER (PARTITION BY block, v) - 1 AS BIGINT) AS r2,
         CAST(count(*) OVER (PARTITION BY block, v) AS BIGINT) AS t
  FROM kept
), ties AS (
  SELECT sum(CAST(t AS HUGEINT) * t - 1) AS tie FROM ranked
), g AS (
  SELECT trt, CAST(count(*) AS BIGINT) AS n_blocks,
         sum(CAST(r2 AS HUGEINT)) AS r2s
  FROM ranked GROUP BY trt
), gj AS (
  SELECT g.*, CAST(dense_rank() OVER (ORDER BY trt) AS INT) AS j FROM g
), gl AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(max(n_blocks) AS BIGINT) AS n,
         sum(r2s * r2s) AS s2, sum(CAST(j AS HUGEINT) * r2s) AS l2
  FROM gj
), st AS (
  SELECT k, n,
         CASE WHEN k >= 2 AND n >= 1 THEN
           3.0 * CAST(s2 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
              * (CAST(k AS DOUBLE) + 1.0))
           - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
         END AS chi2,
         1.0 - CAST(tie AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                  * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)) AS ctie,
         CAST(l2 AS DOUBLE) / 2.0 AS page_l,
         CASE WHEN k >= 3 AND n >= 1 THEN
           (6.0 * CAST(l2 AS DOUBLE)
            - 3.0 * CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
              * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0))
           / sqrt(CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                  * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
                  * (CAST(k AS DOUBLE) + 1.0))
         END AS page_z
  FROM gl CROSS JOIN ties
)
SELECT gj.trt, gj.j, gj.n_blocks, CAST(gj.r2s AS BIGINT) AS r2_sum,
       floor(CAST(gj.r2s AS DOUBLE) / (2.0 * CAST(gj.n_blocks AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS mean_rank,
       CASE WHEN st.chi2 IS NOT NULL
            THEN floor(st.chi2 * 1000000 + 0.5) / 1000000 END AS chi2,
       CASE WHEN st.chi2 IS NOT NULL AND st.ctie > 0.0
            THEN floor(st.chi2 / st.ctie * 1000000 + 0.5) / 1000000
            END AS chi2_adj,
       floor(st.page_l * 1000000 + 0.5) / 1000000 AS page_l,
       CASE WHEN st.page_z IS NOT NULL
            THEN floor(st.page_z * 1000000 + 0.5) / 1000000 END AS page_z,
       st.k
FROM gj CROSS JOIN st
"""


def _q_cochran_q(spark, sf_dir):
    """Cochran's Q across sources, blocks = hour buckets, binary cell
    = "did this source see a value > 100 this hour"
    (operators/grouptests.cochran_q, Cochran 1950): the BINARY member
    of the blocked family next to friedman_page — numerator AND
    denominator exact DECIMAL(38,0) integers, Q literally one float
    division; complete-block rule shared with friedman_page; 0/1
    validation in-plan (raise_error, no second scan)."""
    from eristropy_spark.operators.grouptests import cochran_q

    ev = _events(spark, sf_dir)
    cells = ev.groupBy(
        F.date_trunc("hour", "ts").alias("block"),
        F.col("event_type").alias("treatment"),
    ).agg(
        F.max(F.when(F.col("value") > 100.0, 1).otherwise(0))
        .cast("long")
        .alias("hit")
    )
    r = cochran_q(cells, "block", "treatment", "hit")
    return r.select(
        F.col("treatment").alias("trt"),
        "n_blocks",
        "successes",
        _r6("success_rate").alias("success_rate"),
        _r6("q").alias("q"),
        "df",
        "k",
    )


_ORACLE_COCHRAN_Q = """
WITH cells AS (
  SELECT date_trunc('hour', ts) AS block, event_type AS trt,
         CAST(max(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS x
  FROM events GROUP BY 1, 2
), kk AS (
  SELECT CAST(count(DISTINCT trt) AS INT) AS k FROM cells
), blk AS (
  SELECT block, count(*) AS nr, count(DISTINCT trt) AS nt
  FROM cells GROUP BY block
), kept AS (
  SELECT c.block, c.trt, c.x
  FROM cells c JOIN blk b USING (block) CROSS JOIN kk
  WHERE b.nr = kk.k AND b.nt = kk.k
), rws AS (
  SELECT block, CAST(sum(x) AS BIGINT) AS r FROM kept GROUP BY block
), rr AS (
  SELECT sum(CAST(r AS HUGEINT) * r) AS rr,
         CAST(count(*) AS BIGINT) AS nb
  FROM rws
), cls AS (
  SELECT trt, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(x) AS BIGINT) AS successes
  FROM kept GROUP BY trt
), gl AS (
  SELECT CAST(count(*) AS INT) AS k,
         CAST(sum(successes) AS BIGINT) AS n,
         sum(CAST(successes AS HUGEINT) * successes) AS cc
  FROM cls
), st AS (
  SELECT gl.k,
         CASE WHEN gl.k >= 2 AND rr.nb >= 1
                   AND CAST(gl.k AS HUGEINT) * gl.n - rr.rr > 0 THEN
           CAST(CAST(gl.k - 1 AS HUGEINT)
                * (CAST(gl.k AS HUGEINT) * gl.cc
                   - CAST(gl.n AS HUGEINT) * gl.n) AS DOUBLE)
           / CAST(CAST(gl.k AS HUGEINT) * gl.n - rr.rr AS DOUBLE)
         END AS q
  FROM gl CROSS JOIN rr
)
SELECT cls.trt, cls.n_blocks, cls.successes,
       floor(CAST(cls.successes AS DOUBLE) / CAST(cls.n_blocks AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS success_rate,
       CASE WHEN st.q IS NOT NULL
            THEN floor(st.q * 1000000 + 0.5) / 1000000 END AS q,
       CAST(st.k - 1 AS INT) AS df, st.k
FROM cls CROSS JOIN st
"""


def _q_jonckheere(spark, sf_dir):
    """Jonckheere–Terpstra ordered-trend test across event types
    (operators/grouptests.jonckheere_terpstra, Jonckheere 1954): the
    monotone-alternative sharpening of kruskal_wallis — doubled
    statistic 2J exact DECIMAL(38,0) via the dense group×value grid
    prefix windows, tie-corrected Hollander–Wolfe null moments from
    exact integer sums, z one fixed float expression 6-dp-quantized —
    census shuffle shape, grid bounded by k·|value domain|, zero
    Python."""
    from eristropy_spark.operators.grouptests import jonckheere_terpstra

    ev = _events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("int").alias("tok")
    )
    r = jonckheere_terpstra(ev, group_col="event_type", value_col="tok")
    return r.select(
        F.col("group").alias("grp"),
        "gi",
        "n",
        "two_j",
        "four_e",
        "z",
        "k",
        "n_total",
    )


_ORACLE_JONCKHEERE = """
WITH pts AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS INT) AS v
  FROM events
), cnt AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY grp, v
), grps AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n,
         CAST(dense_rank() OVER (ORDER BY grp) AS INT) AS gi
  FROM cnt GROUP BY grp
), vals AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY v
), grid AS (
  SELECT g.grp, g.gi, s.v, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM grps g CROSS JOIN vals s
  LEFT JOIN cnt c ON c.grp = g.grp AND c.v = s.v
), gt AS (
  SELECT grp, gi, v, c,
         2 * CAST(COALESCE(sum(c) OVER (PARTITION BY grp ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + c AS tt
  FROM grid
), gp AS (
  SELECT grp, v, c,
         CAST(COALESCE(sum(tt) OVER (PARTITION BY v ORDER BY gi
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS p
  FROM gt
), tj AS (
  SELECT sum(CAST(c AS HUGEINT) * p) AS twoj FROM gp
), gs AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         sum(CAST(n AS HUGEINT) * n) AS sn2,
         sum(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)) AS sn125,
         sum(CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS sn12,
         sum(CAST(n AS HUGEINT) * (n - 1)) AS sn1
  FROM grps
), ts AS (
  SELECT sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS st125,
         sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st12,
         sum(CAST(t AS HUGEINT) * (t - 1)) AS st1
  FROM vals
), st AS (
  SELECT gs.k, gs.nt,
         CAST(tj.twoj AS BIGINT) AS two_j,
         CAST(CAST(gs.nt AS HUGEINT) * gs.nt - gs.sn2 AS BIGINT) AS four_e,
         CAST(CAST(gs.nt AS HUGEINT) * (gs.nt - 1)
                * (2 * CAST(gs.nt AS HUGEINT) + 5)
              - gs.sn125 - ts.st125 AS DOUBLE) / 72.0
           + CAST(gs.sn12 AS DOUBLE) * CAST(ts.st12 AS DOUBLE)
             / (36.0 * CAST(gs.nt AS DOUBLE)
                * (CAST(gs.nt AS DOUBLE) - 1.0)
                * (CAST(gs.nt AS DOUBLE) - 2.0))
           + CAST(gs.sn1 AS DOUBLE) * CAST(ts.st1 AS DOUBLE)
             / (8.0 * CAST(gs.nt AS DOUBLE)
                * (CAST(gs.nt AS DOUBLE) - 1.0)) AS var
  FROM gs CROSS JOIN ts CROSS JOIN tj
)
SELECT g.grp, g.gi, g.n, st.two_j, st.four_e,
       CASE WHEN st.k >= 2 AND st.nt >= 3 AND st.var > 0.0 THEN
         floor((2.0 * CAST(st.two_j AS DOUBLE)
                - CAST(st.four_e AS DOUBLE))
               / (4.0 * sqrt(st.var)) * 1000000 + 0.5) / 1000000
       END AS z,
       st.k, st.nt AS n_total
FROM grps g CROSS JOIN st
"""


def _q_conover(spark, sf_dir):
    """Conover squared-ranks k-sample scale test across event types
    (operators/grouptests.conover_squared_ranks, Conover & Iman
    1981, median-centred variant): pooled midranks of |2v − m2|
    deviations; T is scale-invariant, so it runs on NORMALIZED
    squared ranks u = (2r/2N)² quantized onto the 12-dp grid (raw
    (ΣR²)² would pass 1e20 at 10⁴ rows) — all sums exact
    DECIMAL(38,12), T ONE fixed float expression, structural
    single-deviation degeneracy guard — census shuffle shape, zero
    Python."""
    from eristropy_spark.operators.grouptests import conover_squared_ranks

    ev = _events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("int").alias("tok")
    )
    r = conover_squared_ranks(ev, group_col="event_type", value_col="tok")
    return r.select(
        F.col("group").alias("grp"),
        "n",
        _r6("s_u").alias("s_u"),
        _r6("mean_u").alias("mean_u"),
        "t_stat",
        "df",
        "k",
        "n_total",
    )


_ORACLE_CONOVER = """
WITH pts AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS INT) AS v
  FROM events
), cnt AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY grp, v
), ranked AS (
  SELECT grp, v, c,
         CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM cnt
), med AS (
  SELECT grp,
         CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT)
       + CAST(min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT)
           AS m2
  FROM ranked GROUP BY grp
), dev AS (
  SELECT c.grp, abs(2 * CAST(c.v AS BIGINT) - m.m2) AS z2,
         CAST(sum(c.c) AS BIGINT) AS c
  FROM cnt c JOIN med m USING (grp) GROUP BY 1, 2
), zvals AS (
  SELECT z2, CAST(sum(c) AS BIGINT) AS t FROM dev GROUP BY z2
), zcum AS (
  SELECT z2, t,
         CAST(sum(t) OVER (ORDER BY z2 ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS BIGINT) AS cumt,
         CAST(sum(t) OVER () AS BIGINT) AS nn
  FROM zvals
), uu AS (
  SELECT z2, t,
         CAST(floor(
           (CAST(2 * cumt - t + 1 AS DOUBLE)
            / (2.0 * CAST(nn AS DOUBLE)))
           * (CAST(2 * cumt - t + 1 AS DOUBLE)
              / (2.0 * CAST(nn AS DOUBLE)))
           * 1000000000000.0 + 0.5) / 1000000000000.0
           AS DECIMAL(38, 12)) AS u
  FROM zcum
), uw AS (
  SELECT z2, t, u,
         CAST(floor(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS w
  FROM uu
), g AS (
  SELECT d.grp, CAST(sum(d.c) AS BIGINT) AS n,
         sum(CAST(d.c AS DECIMAL(13, 0)) * CAST(m.u AS DECIMAL(24, 12)))
           AS su
  FROM dev d JOIN uw m USING (z2) GROUP BY d.grp
), pooled AS (
  SELECT sum(CAST(t AS DECIMAL(13, 0)) * CAST(u AS DECIMAL(24, 12)))
           AS t1,
         sum(CAST(t AS DECIMAL(13, 0)) * CAST(w AS DECIMAL(24, 12)))
           AS t2,
         CAST(count(*) AS BIGINT) AS nz
  FROM uw
), gl AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         sum(CAST(floor(CAST(su AS DOUBLE) * CAST(su AS DOUBLE)
                        / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS DECIMAL(38, 6))) AS sq
  FROM g
), st AS (
  SELECT gl.k, gl.nt,
         CASE WHEN gl.k >= 2 AND gl.nt >= 2 AND p.nz >= 2
                   AND (CAST(p.t2 AS DOUBLE)
                        - CAST(p.t1 AS DOUBLE) * CAST(p.t1 AS DOUBLE)
                          / CAST(gl.nt AS DOUBLE))
                       / (CAST(gl.nt AS DOUBLE) - 1.0) > 0.0 THEN
           floor((CAST(gl.sq AS DOUBLE)
                  - CAST(p.t1 AS DOUBLE) * CAST(p.t1 AS DOUBLE)
                    / CAST(gl.nt AS DOUBLE))
                 / ((CAST(p.t2 AS DOUBLE)
                     - CAST(p.t1 AS DOUBLE) * CAST(p.t1 AS DOUBLE)
                       / CAST(gl.nt AS DOUBLE))
                    / (CAST(gl.nt AS DOUBLE) - 1.0))
                 * 1000000 + 0.5) / 1000000
         END AS t_stat
  FROM gl CROSS JOIN pooled p
)
SELECT g.grp, g.n,
       floor(CAST(g.su AS DOUBLE) * 1000000 + 0.5) / 1000000 AS s_u,
       floor(CAST(g.su AS DOUBLE) / CAST(g.n AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS mean_u,
       st.t_stat, CAST(st.k - 1 AS INT) AS df, st.k, st.nt AS n_total
FROM g CROSS JOIN st
"""


def _q_quade(spark, sf_dir):
    """Quade range-weighted blocked rank test across sources, blocks
    = hour buckets (operators/grouptests.quade, Quade 1979): the
    member of the complete-block family that up-weights
    high-discrimination blocks — doubled cell midranks 2r and doubled
    range midranks 2Q exact, 4S_ij = 2Q·(2r−(k+1)) exact
    DECIMAL(38,0), F = (n−1)·Σ(4S_j)² / (n·Σ(4S_ij)² − Σ(4S_j)²) ONE
    float division; complete-block rule shared with friedman_page;
    cells = exact Σ round(value*100) per (hour, event_type)."""
    from eristropy_spark.operators.grouptests import quade

    ev = _events(spark, sf_dir)
    cells = ev.groupBy(
        F.date_trunc("hour", "ts").alias("block"),
        F.col("event_type").alias("treatment"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cell")
    )
    r = quade(cells, "block", "treatment", "cell")
    return r.select(
        F.col("treatment").alias("trt"),
        "j",
        "n_blocks",
        "s4_sum",
        "f_stat",
        "df1",
        "df2",
        "k",
        "n",
    )


_ORACLE_QUADE = """
WITH cells AS (
  SELECT date_trunc('hour', ts) AS block, event_type AS trt,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), kk AS (
  SELECT CAST(count(DISTINCT trt) AS INT) AS k FROM cells
), blk AS (
  SELECT block, count(*) AS nr, count(DISTINCT trt) AS nt
  FROM cells GROUP BY block
), kept AS (
  SELECT c.block, c.trt, c.v
  FROM cells c JOIN blk b USING (block) CROSS JOIN kk
  WHERE b.nr = kk.k AND b.nt = kk.k
), ranked AS (
  SELECT block, trt,
         CAST(2 * rank() OVER (PARTITION BY block ORDER BY v)
              + count(*) OVER (PARTITION BY block, v) - 1 AS BIGINT)
           AS r2
  FROM kept
), rng AS (
  SELECT block, CAST(max(v) - min(v) AS BIGINT) AS d
  FROM kept GROUP BY block
), qrk AS (
  SELECT block,
         CAST(2 * rank() OVER (ORDER BY d)
              + count(*) OVER (PARTITION BY d) - 1 AS BIGINT) AS q2
  FROM rng
), s AS (
  SELECT r.trt,
         CAST(q.q2 AS HUGEINT) * (r.r2 - (kk.k + 1)) AS s4
  FROM ranked r JOIN qrk q USING (block) CROSS JOIN kk
), g AS (
  SELECT trt, CAST(count(*) AS BIGINT) AS n_blocks,
         sum(s4) AS s4s, sum(s4 * s4) AS a16j
  FROM s GROUP BY trt
), gj AS (
  SELECT g.*, CAST(dense_rank() OVER (ORDER BY trt) AS INT) AS j FROM g
), gl AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(max(n_blocks) AS BIGINT) AS n,
         sum(a16j) AS a16, sum(s4s * s4s) AS b16n
  FROM gj
), st AS (
  SELECT k, n,
         CASE WHEN k >= 2 AND n >= 2
                   AND CAST(n AS HUGEINT) * a16 - b16n > 0 THEN
           floor(CAST(n - 1 AS DOUBLE) * CAST(b16n AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * a16 - b16n AS DOUBLE)
                 * 1000000 + 0.5) / 1000000
         END AS f_stat
  FROM gl
)
SELECT gj.trt, gj.j, gj.n_blocks, CAST(gj.s4s AS BIGINT) AS s4_sum,
       st.f_stat, CAST(st.k - 1 AS INT) AS df1,
       CAST((st.n - 1) * (st.k - 1) AS BIGINT) AS df2, st.k, st.n
FROM gj CROSS JOIN st
"""


def _q_cochran_armitage(spark, sf_dir):
    """Cochran–Armitage binary trend test across event types
    (operators/grouptests.cochran_armitage, Armitage 1955): does the
    value>100 hit-rate trend across the ordered groups — T·N and
    Var·N³ exact DECIMAL(38,0) integers, z and chi² each ONE fixed
    float expression 6-dp-quantized, 0/1 validation in-plan — one
    hash-aggregate + k-row rank window + 1-row broadcast, zero
    Python."""
    from eristropy_spark.operators.grouptests import cochran_armitage

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.when(F.col("value") > 100.0, 1).otherwise(0).cast("long").alias(
            "hit"
        ),
    )
    r = cochran_armitage(ev, group_col="event_type", value_col="hit")
    return r.select(
        F.col("group").alias("grp"),
        "gi",
        "n",
        "successes",
        _r6("rate").alias("rate"),
        "z",
        "chi2",
        "df",
        "k",
        "n_total",
        "r_total",
    )


_ORACLE_COCHRAN_ARMITAGE = """
WITH pts AS (
  SELECT event_type AS grp,
         CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS x
  FROM events
), grp AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS successes,
         CAST(dense_rank() OVER (ORDER BY grp) AS INT) AS gi
  FROM pts GROUP BY grp
), gl AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(successes) AS BIGINT) AS rt,
         sum(CAST(gi AS HUGEINT) * successes) AS sr,
         sum(CAST(gi AS HUGEINT) * n) AS s1,
         sum(CAST(gi AS HUGEINT) * gi * n) AS s2
  FROM grp
), st AS (
  SELECT k, nt, rt,
         CAST(nt AS HUGEINT) * sr - CAST(rt AS HUGEINT) * s1 AS tn,
         CAST(rt AS HUGEINT) * (nt - rt)
           * (CAST(nt AS HUGEINT) * s2 - s1 * s1) AS varn3
  FROM gl
), zz AS (
  SELECT k, nt, rt,
         CASE WHEN k >= 2 AND rt > 0 AND rt < nt AND varn3 > 0 THEN
           floor(CAST(tn AS DOUBLE) * sqrt(CAST(nt AS DOUBLE))
                 / sqrt(CAST(varn3 AS DOUBLE)) * 1000000 + 0.5)
           / 1000000 END AS z,
         CASE WHEN k >= 2 AND rt > 0 AND rt < nt AND varn3 > 0 THEN
           floor(CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE)
                 * CAST(nt AS DOUBLE)
                 / CAST(varn3 AS DOUBLE) * 1000000 + 0.5)
           / 1000000 END AS chi2
  FROM st
)
SELECT g.grp, g.gi, g.n, g.successes,
       floor(CAST(g.successes AS DOUBLE) / CAST(g.n AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS rate,
       zz.z, zz.chi2, CAST(1 AS INT) AS df, zz.k, zz.nt AS n_total,
       zz.rt AS r_total
FROM grp g CROSS JOIN zz
"""


def _q_mood_median(spark, sf_dir):
    """Mood's median test across event types
    (operators/grouptests.mood_median, Mood 1950): the 2×k
    above/≤-grand-median chi-square — doubled pooled median exact
    from the distinct-value census order statistics, exact
    DECIMAL(38,0) cell-count numerators, per-group terms
    6-dp-quantized into DECIMAL(38,6) — census shuffle shape, zero
    Python."""
    from eristropy_spark.operators.grouptests import mood_median

    ev = _events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("int").alias("tok")
    )
    r = mood_median(ev, group_col="event_type", value_col="tok")
    return r.select(
        F.col("group").alias("grp"),
        "n",
        "n_above",
        "n_le",
        "median",
        "chi2",
        "df",
        "k",
        "n_total",
        "n_above_total",
    )


_ORACLE_MOOD_MEDIAN = """
WITH pts AS (
  SELECT event_type AS grp, CAST(round(value * 100) AS INT) AS v
  FROM events
), cnt AS (
  SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY grp, v
), vals AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY v
), cum AS (
  SELECT v, t,
         CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cumt,
         CAST(sum(t) OVER () AS BIGINT) AS n
  FROM vals
), med AS (
  SELECT CAST(min(CASE WHEN cumt >= floor((n + 1) / 2) THEN v END)
              AS BIGINT)
       + CAST(min(CASE WHEN cumt >= floor(n / 2) + 1 THEN v END)
              AS BIGINT) AS m2
  FROM cum
), grp AS (
  SELECT c.grp, CAST(sum(c.c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN 2 * CAST(c.v AS BIGINT) > m.m2
                       THEN c.c ELSE 0 END) AS BIGINT) AS n_above,
         max(m.m2) AS m2
  FROM cnt c CROSS JOIN med m GROUP BY c.grp
), g2 AS (
  SELECT grp, n, n_above, CAST(n - n_above AS BIGINT) AS n_le, m2
  FROM grp
), tot AS (
  SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(n_above) AS BIGINT) AS na FROM g2
), terms AS (
  SELECT CASE WHEN t.na > 0 AND t.na < t.nt THEN
           CAST(floor((
             CAST(CAST(g.n_above AS HUGEINT) * t.nt
                  - CAST(g.n AS HUGEINT) * t.na AS DOUBLE)
             * CAST(CAST(g.n_above AS HUGEINT) * t.nt
                    - CAST(g.n AS HUGEINT) * t.na AS DOUBLE)
             / (CAST(t.nt AS DOUBLE) * CAST(g.n AS DOUBLE)
                * CAST(t.na AS DOUBLE))
             + CAST(CAST(g.n_le AS HUGEINT) * t.nt
                    - CAST(g.n AS HUGEINT) * (t.nt - t.na) AS DOUBLE)
             * CAST(CAST(g.n_le AS HUGEINT) * t.nt
                    - CAST(g.n AS HUGEINT) * (t.nt - t.na) AS DOUBLE)
             / (CAST(t.nt AS DOUBLE) * CAST(g.n AS DOUBLE)
                * CAST(t.nt - t.na AS DOUBLE))
           ) * 1000000 + 0.5) / 1000000 AS DECIMAL(38, 6))
         END AS term
  FROM g2 g CROSS JOIN tot t
), chi AS (
  SELECT CAST(sum(term) AS DOUBLE) AS chi2 FROM terms
)
SELECT g.grp, g.n, g.n_above, g.n_le,
       CAST(g.m2 AS DOUBLE) / 2.0 AS median,
       CASE WHEN t.k >= 2 THEN c.chi2 END AS chi2,
       CAST(t.k - 1 AS INT) AS df, t.k, t.nt AS n_total,
       t.na AS n_above_total
FROM g2 g CROSS JOIN tot t CROSS JOIN chi c
"""


def _q_chi2_drift(spark, sf_dir):
    """Two-sample chi-squared homogeneity drift per signal
    (operators/drift.chi2_drift, Pearson's 2×V contingency form):
    exact int64 cell differences ca·nb − na·cb, per-value terms
    6-dp-quantized into DECIMAL(38,6) — the ks_drift census shuffle
    shape, no joins, no Python."""
    from eristropy_spark.operators.drift import chi2_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = chi2_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "n_values",
        _r6("chi2").alias("chi2"),
        "dfree",
    )


_ORACLE_CHI2_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), tot AS (
  SELECT user_id, event_type, ca, cb,
         sum(ca) OVER (PARTITION BY user_id, event_type) AS na,
         sum(cb) OVER (PARTITION BY user_id, event_type) AS nb
  FROM cv
), red AS (
  SELECT user_id, event_type,
         max(na) AS n_ref, max(nb) AS n_cur,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(floor(
           CAST(ca * nb - na * cb AS DOUBLE)
           * CAST(ca * nb - na * cb AS DOUBLE)
           / (CAST(ca + cb AS DOUBLE) * CAST(na AS DOUBLE)
              * CAST(nb AS DOUBLE)) * 1000000 + 0.5) / 1000000
           AS DECIMAL(38, 6))) AS DOUBLE) AS s
  FROM tot GROUP BY user_id, event_type
)
SELECT user_id, event_type,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       CAST(m AS INT) AS n_values,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND m >= 2 THEN
         floor(s * 1000000 + 0.5) / 1000000 END AS chi2,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND m >= 2 THEN
         m - 1 END AS dfree
FROM red
"""


def _q_ttest_drift(spark, sf_dir):
    """Welch two-sample t / Cohen's d / variance F-ratio drift per
    signal (operators/drift.ttest_drift, Welch 1947): 12-dp DECIMAL
    moment sums, every statistic one fixed float expression — ONE
    keyed window pass + ONE hash aggregate, cheaper than the census
    family, zero Python."""
    from eristropy_spark.operators.drift import ttest_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = ttest_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("mean_ref").alias("mean_ref"),
        _r6("mean_cur").alias("mean_cur"),
        _r6("t_stat").alias("t_stat"),
        _r6("dof").alias("dof"),
        _r6("cohen_d").alias("cohen_d"),
        _r6("f_ratio").alias("f_ratio"),
    )


_ORACLE_TTEST_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), red AS (
  SELECT user_id, event_type,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur,
         CAST(sum(CAST(floor((CASE WHEN ref THEN v ELSE 0.0 END)
                             * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sa,
         CAST(sum(CAST(floor((CASE WHEN ref THEN 0.0 ELSE v END)
                             * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sb,
         CAST(sum(CAST(floor((CASE WHEN ref THEN v * v ELSE 0.0 END)
                             * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS qa,
         CAST(sum(CAST(floor((CASE WHEN ref THEN 0.0 ELSE v * v END)
                             * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS qb
  FROM tagged GROUP BY user_id, event_type
), st AS (
  SELECT user_id, event_type, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb,
         sa / CAST(n_ref AS DOUBLE) AS ma,
         sb / CAST(n_cur AS DOUBLE) AS mb,
         (qa - sa * sa / CAST(n_ref AS DOUBLE))
           / (CAST(n_ref AS DOUBLE) - 1.0) AS va,
         (qb - sb * sb / CAST(n_cur AS DOUBLE))
           / (CAST(n_cur AS DOUBLE) - 1.0) AS vb
  FROM red
), fin AS (
  SELECT user_id, event_type, n_ref, n_cur, ma, mb, va, vb, na, nb,
         va / na + vb / nb AS se2,
         ((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0) AS pooled
  FROM st
)
SELECT user_id, event_type, n_ref, n_cur,
       CASE WHEN n_ref >= 1
            THEN floor(ma * 1000000 + 0.5) / 1000000 END AS mean_ref,
       CASE WHEN n_cur >= 1
            THEN floor(mb * 1000000 + 0.5) / 1000000 END AS mean_cur,
       CASE WHEN n_ref >= 2 AND n_cur >= 2 AND se2 > 0.0 THEN
         floor((ma - mb) / sqrt(se2) * 1000000 + 0.5) / 1000000
       END AS t_stat,
       CASE WHEN n_ref >= 2 AND n_cur >= 2 AND se2 > 0.0 THEN
         floor(se2 * se2 / ((va / na) * (va / na) / (na - 1.0)
                            + (vb / nb) * (vb / nb) / (nb - 1.0))
               * 1000000 + 0.5) / 1000000
       END AS dof,
       CASE WHEN n_ref >= 2 AND n_cur >= 2 AND pooled > 0.0 THEN
         floor((ma - mb) / sqrt(pooled) * 1000000 + 0.5) / 1000000
       END AS cohen_d,
       CASE WHEN n_ref >= 2 AND n_cur >= 2 AND vb > 0.0 THEN
         floor(va / vb * 1000000 + 0.5) / 1000000
       END AS f_ratio
FROM fin
"""


def _q_energy_drift(spark, sf_dir):
    """Székely–Rizzo energy-distance drift per signal
    (operators/drift.energy_drift): every pairwise-|difference| sum
    collapsed onto the pooled census via the gap identity, terms
    12-dp-quantized into DECIMAL(38,12) — the ks_drift census shuffle
    shape, no joins, no Python."""
    from eristropy_spark.operators.drift import energy_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = energy_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("e_dist").alias("e_dist"),
        _r6("e_stat").alias("e_stat"),
    )


_ORACLE_ENERGY_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, v, ca, cb,
         CAST(sum(ca) OVER wc AS BIGINT) AS cuma,
         CAST(sum(cb) OVER wc AS BIGINT) AS cumb,
         CAST(sum(ca) OVER wt AS BIGINT) AS na,
         CAST(sum(cb) OVER wt AS BIGINT) AS nb,
         lead(v) OVER wl AS nextv
  FROM cv
  WINDOW wc AS (PARTITION BY user_id, event_type ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY user_id, event_type),
         wl AS (PARTITION BY user_id, event_type ORDER BY v)
), red AS (
  SELECT user_id, event_type, max(na) AS n_ref, max(nb) AS n_cur,
         CAST(sum(CAST(floor((CASE WHEN nextv IS NOT NULL THEN
             (nextv - v) * (CAST(cuma AS DOUBLE) * CAST(nb - cumb AS DOUBLE)
                            + CAST(cumb AS DOUBLE) * CAST(na - cuma AS DOUBLE))
             ELSE 0.0 END) * 1e12 + 0.5) / 1e12
           AS DECIMAL(38,12))) AS DOUBLE) AS sab,
         CAST(sum(CAST(floor((CASE WHEN nextv IS NOT NULL THEN
             (nextv - v) * CAST(cuma AS DOUBLE) * CAST(na - cuma AS DOUBLE)
             ELSE 0.0 END) * 1e12 + 0.5) / 1e12
           AS DECIMAL(38,12))) AS DOUBLE) AS saa,
         CAST(sum(CAST(floor((CASE WHEN nextv IS NOT NULL THEN
             (nextv - v) * CAST(cumb AS DOUBLE) * CAST(nb - cumb AS DOUBLE)
             ELSE 0.0 END) * 1e12 + 0.5) / 1e12
           AS DECIMAL(38,12))) AS DOUBLE) AS sbb
  FROM cum GROUP BY user_id, event_type
), st AS (
  SELECT user_id, event_type, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb,
         2.0 * sab / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))
         - 2.0 * saa / (CAST(n_ref AS DOUBLE) * CAST(n_ref AS DOUBLE))
         - 2.0 * sbb / (CAST(n_cur AS DOUBLE) * CAST(n_cur AS DOUBLE))
           AS d2
  FROM red
)
SELECT user_id, event_type, n_ref, n_cur,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(d2 * 1000000 + 0.5) / 1000000 END AS e_dist,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(na * nb / (na + nb) * d2 * 1000000 + 0.5) / 1000000
       END AS e_stat
FROM st
"""


def _q_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann pairwise-difference shift + Cliff's delta per
    (user_id, event_type) key, first half vs second half
    (operators/drift.hodges_lehmann_drift, Hodges & Lehmann 1963 /
    Cliff 1993): value censuses exact, the difference census joins
    them per key (quantized-domain^2 bound, never n^2 rows), weighted
    interpolated median as exact order statistics m2 = d_lo + d_hi,
    delta = (gt - lt)/N one fixed float expression.  The effect-size
    readout next to mannwhitney's p-value."""
    from eristropy_spark.operators.drift import hodges_lehmann_drift

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("tok"),
    )
    r = hodges_lehmann_drift(
        ev, ("user_id", "event_type"), value_col="tok", tiebreak_col="event_id"
    )
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "n_pairs",
        (F.col("hl_shift") / F.lit(100.0)).alias("hl_shift"),
        _r6("cliffs_delta").alias("cliffs_delta"),
    )


_ORACLE_HODGES_LEHMANN = """
WITH pts AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), refc AS (
  SELECT user_id, event_type, v AS va, CAST(count(*) AS BIGINT) AS ca
  FROM tagged WHERE ref GROUP BY 1, 2, 3
), curc AS (
  SELECT user_id, event_type, v AS vb, CAST(count(*) AS BIGINT) AS cb
  FROM tagged WHERE NOT ref GROUP BY 1, 2, 3
), diffs AS (
  SELECT r.user_id, r.event_type, c.vb - r.va AS d,
         CAST(sum(r.ca * c.cb) AS BIGINT) AS w
  FROM refc r JOIN curc c USING (user_id, event_type)
  GROUP BY 1, 2, 3
), cum AS (
  SELECT user_id, event_type, d, w,
         CAST(sum(w) OVER wn AS BIGINT) AS cm,
         CAST(sum(w) OVER (PARTITION BY user_id, event_type)
              AS BIGINT) AS np
  FROM diffs
  WINDOW wn AS (PARTITION BY user_id, event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), red AS (
  SELECT user_id, event_type, max(np) AS n_pairs,
         CAST(min(CASE WHEN cm >= (np + 1) // 2 THEN d END) AS BIGINT)
         + CAST(min(CASE WHEN cm >= np // 2 + 1 THEN d END) AS BIGINT)
           AS m2,
         CAST(sum(CASE WHEN d > 0 THEN w ELSE 0 END) AS BIGINT) AS gt,
         CAST(sum(CASE WHEN d < 0 THEN w ELSE 0 END) AS BIGINT) AS lt
  FROM cum GROUP BY 1, 2
), halves AS (
  SELECT user_id, event_type,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM tagged GROUP BY 1, 2
)
SELECT h.user_id, h.event_type, h.n_ref, h.n_cur,
       COALESCE(r.n_pairs, 0) AS n_pairs,
       CAST(r.m2 AS DOUBLE) / 2.0 / 100.0 AS hl_shift,
       floor(CAST(r.gt - r.lt AS DOUBLE) / CAST(r.n_pairs AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS cliffs_delta
FROM halves h LEFT JOIN red r USING (user_id, event_type)
"""


def _q_ad_drift(spark, sf_dir):
    """Two-sample Anderson-Darling drift per (user_id, event_type)
    key, first half vs second half (operators/drift.ad_drift, Scholz
    & Stephens 1987 midrank k=2): the TAIL-WEIGHTED member of the
    drift family (KS = worst gap, CvM = integrated gap, AD = gap
    weighted 1/(F(1-F)) so tail regimes count fully).  Doubled
    midrank cumulatives exact; each term l*X^2/den4 a ratio of exact
    DECIMAL(38,0) integers, 12dp-quantized and DECIMAL-summed; A2 one
    fixed float expression.  ks_drift's census shuffle shape."""
    from eristropy_spark.operators.drift import ad_drift

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("tok"),
    )
    r = ad_drift(
        ev, ("user_id", "event_type"), value_col="tok", tiebreak_col="event_id"
    )
    return r.select(
        "user_id", "event_type", "n_ref", "n_cur", _r6("a2").alias("a2")
    )


_ORACLE_AD_DRIFT = """
WITH pts AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb, ca + cb AS t,
         CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         CAST(sum(cb) OVER w AS BIGINT) AS cumb,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cumt,
         CAST(sum(ca) OVER wt AS BIGINT) AS na,
         CAST(sum(cb) OVER wt AS BIGINT) AS nb
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY user_id, event_type)
), ints AS (
  SELECT user_id, event_type, ca, cb, t, na, nb,
         CAST(na + nb AS HUGEINT) * (2 * cuma - ca)
           - CAST(na AS HUGEINT) * (2 * cumt - t) AS xa,
         CAST(na + nb AS HUGEINT) * (2 * cumb - cb)
           - CAST(nb AS HUGEINT) * (2 * cumt - t) AS xb,
         CAST(2 * cumt - t AS HUGEINT)
           * (CAST(2 * (na + nb) AS HUGEINT) - (2 * cumt - t))
           - CAST(na + nb AS HUGEINT) * t AS den4
  FROM cum
), terms AS (
  SELECT user_id, event_type, ca, cb,
         CASE WHEN den4 > 0 THEN
           CAST(floor(CAST(t AS DOUBLE) * CAST(xa AS DOUBLE)
                      * CAST(xa AS DOUBLE) / CAST(den4 AS DOUBLE)
                      * 1000000000000.0 + 0.5) / 1000000000000.0
                AS DECIMAL(38, 12))
         ELSE CAST(0.0 AS DECIMAL(38, 12)) END AS ta,
         CASE WHEN den4 > 0 THEN
           CAST(floor(CAST(t AS DOUBLE) * CAST(xb AS DOUBLE)
                      * CAST(xb AS DOUBLE) / CAST(den4 AS DOUBLE)
                      * 1000000000000.0 + 0.5) / 1000000000000.0
                AS DECIMAL(38, 12))
         ELSE CAST(0.0 AS DECIMAL(38, 12)) END AS tb
  FROM ints
), red AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         sum(ta) AS sa, sum(tb) AS sb
  FROM terms GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_ref, n_cur,
       CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         floor(
           (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE) - 1.0)
           / (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
           * (CAST(sa AS DOUBLE)
              / ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                 * CAST(n_ref AS DOUBLE))
              + CAST(sb AS DOUBLE)
              / ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                 * CAST(n_cur AS DOUBLE)))
           * 1000000 + 0.5) / 1000000
       END AS a2
FROM red
"""



def _q_kn_bigram(spark, sf_dir):
    """Interpolated Kneser–Ney bigram document scoring (operators/
    corpus.kn_bigram_score, Kneser & Ney 1995 / Chen & Goodman 1999):
    the LM-quality proxy above unigram_logprob — self-scored corpus
    counts, continuation-type smoothing, per-doc mean log-prob and
    perplexity.  Bigram enumeration in-row; shuffles carry (token,
    count) pairs; the one-row type total broadcasts."""
    from eristropy_spark.operators.corpus import kn_bigram_score

    r = kn_bigram_score(_docs(spark, sf_dir), discount=0.75)
    return r.select(
        "doc_id",
        "n_bigrams",
        "n_types",
        _r6("logp").alias("logp"),
        _r6("ppl").alias("ppl"),
    )


_ORACLE_KN = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS i
  FROM documents
), bg AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
), dbc AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
  FROM bg GROUP BY doc_id, w1, w2
), c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2
), lft AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1r
  FROM c12 GROUP BY w1
), rgt AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1l FROM c12 GROUP BY w2
), bt AS (
  SELECT CAST(count(*) AS DOUBLE) AS b FROM c12
), per AS (
  SELECT d.doc_id,
         sum(CAST(d.k AS DOUBLE)
             * ln((CAST(c.c12 AS DOUBLE) - 0.75
                   + 0.75 * CAST(l.n1r AS DOUBLE) * CAST(r.n1l AS DOUBLE)
                     / bt.b)
                  / CAST(l.c1 AS DOUBLE))) AS slp,
         CAST(sum(d.k) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS n_types
  FROM dbc d
  JOIN c12 c USING (w1, w2)
  JOIN lft l USING (w1)
  JOIN rgt r USING (w2)
  CROSS JOIN bt
  GROUP BY d.doc_id
)
SELECT doc.doc_id,
       coalesce(per.n_bigrams, 0) AS n_bigrams,
       coalesce(per.n_types, 0) AS n_types,
       floor(per.slp / per.n_bigrams * 1000000 + 0.5) / 1000000 AS logp,
       floor(exp(-(per.slp / per.n_bigrams)) * 1000000 + 0.5) / 1000000
         AS ppl
FROM (SELECT doc_id FROM documents) doc LEFT JOIN per USING (doc_id)
"""


def _q_ess(spark, sf_dir):
    """Effective sample size via integrated autocorrelation time per
    signal (operators/acf.ess, Geyer 1992 initial-positive-sequence
    rule on the 6-dp acf grid): τ = 1 + 2Σρ_k to the first ρ ≤ 0,
    ESS = n/τ — the honest independent-sample count for downstream
    averaging.  Truncation and sum are exact integer ops on 1e-6
    units; τ/ESS one fixed float expression."""
    from eristropy_spark.operators.acf import ess

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = ess(tokens, array_col="tokens", max_lag=10, keep_cols=("doc_id",))
    return r.select(
        "doc_id", "n", "n_lags_used",
        _r6("tau").alias("tau"), _r6("ess").alias("ess"),
    )


_ORACLE_ESS = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), st AS (
  SELECT doc_id, avg(tok) AS mu, count(*) AS n FROM pts GROUP BY doc_id
), dev AS (
  SELECT p.doc_id, p.i, p.tok - s.mu AS d, s.n
  FROM pts p JOIN st s USING (doc_id)
), den AS (
  SELECT doc_id, sum(d * d) AS den, max(n) AS n FROM dev GROUP BY doc_id
), lags AS (
  SELECT doc_id, den, unnest(generate_series(1, LEAST(10, n - 1))) AS lag
  FROM den
), acfq AS (
  SELECT l.doc_id, l.lag,
         CAST(floor((sum(a.d * b.d) / l.den) * 1000000 + 0.5) AS BIGINT)
           AS li
  FROM lags l
  JOIN dev a ON a.doc_id = l.doc_id
  JOIN dev b ON b.doc_id = l.doc_id AND b.i = a.i + l.lag
  GROUP BY l.doc_id, l.lag, l.den
), k0 AS (
  SELECT doc_id,
         coalesce(min(CASE WHEN li <= 0 THEN lag END), 11) AS k0
  FROM acfq GROUP BY doc_id
), su AS (
  SELECT a.doc_id,
         CAST(sum(CASE WHEN a.lag < k.k0 THEN a.li ELSE 0 END) AS BIGINT)
           AS su,
         CAST(sum(CASE WHEN a.lag < k.k0 THEN 1 ELSE 0 END) AS INT)
           AS n_lags_used
  FROM acfq a JOIN k0 k USING (doc_id)
  GROUP BY a.doc_id
), nn AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n FROM pts GROUP BY doc_id
)
SELECT nn.doc_id, nn.n,
       coalesce(su.n_lags_used, 0) AS n_lags_used,
       floor((1.0 + 2.0 * (CAST(coalesce(su.su, 0) AS DOUBLE) / 1000000.0))
             * 1000000.0 + 0.5) / 1000000.0 AS tau,
       floor((CAST(nn.n AS DOUBLE)
              / (1.0 + 2.0 * (CAST(coalesce(su.su, 0) AS DOUBLE)
                              / 1000000.0)))
             * 1000000.0 + 0.5) / 1000000.0 AS ess
FROM nn LEFT JOIN su USING (doc_id)
"""


def _q_lz_entropy_rate(spark, sf_dir):
    """Kontoyiannis increasing-window entropy-rate estimator per
    signal (operators/complexity.lz_entropy_rate, Kontoyiannis et al.
    1998): prefix-contained match lengths via the LZ76 string kernel,
    each Λ/log2 term 12-dp-quantized and integer-accumulated (= the
    SQL DECIMAL sum, order-invariant), h = m/denom one fixed float
    expression.  The nonparametric complement of markov_rate."""
    from eristropy_spark.operators.complexity import lz_entropy_rate

    tokens = events_to_tokens(_utc(spark), sf_dir)
    r = lz_entropy_rate(tokens, array_col="tokens", keep_cols=("doc_id",))
    return r.select("doc_id", "n", "m", "h_bits", "h_nats")


_ORACLE_LZ_RATE = """
WITH pts AS (
  SELECT user_id || ':' || event_type AS doc_id,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS i
  FROM events
), enc AS (
  SELECT doc_id,
         string_agg(',' || lpad(CAST(tok + 2147483648 AS BIGINT)::VARCHAR,
                                10, '0'), '' ORDER BY i) AS s,
         CAST(count(*) AS INT) AS n
  FROM pts GROUP BY doc_id
), pos AS (
  SELECT doc_id, n, s, unnest(generate_series(1, n)) AS p FROM enc
), cand AS (
  SELECT a.doc_id, a.p, l.l
  FROM pos a,
       LATERAL (SELECT unnest(generate_series(1, a.n - a.p + 1)) AS l) l
  WHERE contains(substr(a.s, 1, 11 * (a.p - 1)),
                 substr(a.s, 11 * (a.p - 1) + 1, 11 * l.l))
), lmax AS (
  SELECT doc_id, p, max(l) AS lp FROM cand GROUP BY doc_id, p
), terms AS (
  SELECT pos.doc_id, pos.p, coalesce(lmax.lp, 0) AS lp
  FROM pos LEFT JOIN lmax USING (doc_id, p)
  WHERE pos.p >= 3
), agg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS m,
         CAST(sum(CAST(floor((CAST(lp + 1 AS DOUBLE)
                              / log2(CAST(p - 1 AS DOUBLE)))
                             * 1000000000000.0 + 0.5)
                       / 1000000000000.0 AS DECIMAL(38,12)))
              AS DOUBLE) AS denom
  FROM terms GROUP BY doc_id
)
SELECT e.doc_id, e.n, coalesce(a.m, 0) AS m,
       floor((CAST(a.m AS DOUBLE) / a.denom) * 1000000.0 + 0.5)
         / 1000000.0 AS h_bits,
       floor(ln(2.0) * (CAST(a.m AS DOUBLE) / a.denom) * 1000000.0 + 0.5)
         / 1000000.0 AS h_nats
FROM enc e LEFT JOIN agg a USING (doc_id)
"""


def _q_spearman(spark, sf_dir):
    """Spearman rank correlation between source pairs on the 60 s
    bucket-mean grid (operators/rankcorr.spearman_pairs): doubled
    average ranks are exact int64 (2r = 2·minrank + t − 1), every
    Pearson sum an exact integer, ρ ONE fixed float expression — the
    robust monotone complement of crosscorr's lag-0 CCF."""
    from eristropy_spark.operators.rankcorr import spearman_pairs

    ev = _events(spark, sf_dir)
    r = spearman_pairs(ev, source_col="event_type", bucket_sec=60, min_overlap=3)
    return r.select("source_a", "source_b", "n", _r6("rho").alias("rho"))


_ORACLE_SPEARMAN = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 60000000 AS bucket,
         floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
  FROM events GROUP BY event_type, epoch_us(ts) // 60000000
), m AS (
  SELECT a.source AS source_a, b.source AS source_b, a.v AS va, b.v AS vb
  FROM grid a JOIN grid b ON b.bucket = a.bucket AND a.source < b.source
), ranked AS (
  SELECT source_a, source_b,
         2 * rank() OVER (PARTITION BY source_a, source_b ORDER BY va)
           + count(*) OVER (PARTITION BY source_a, source_b, va) - 1 AS ra,
         2 * rank() OVER (PARTITION BY source_a, source_b ORDER BY vb)
           + count(*) OVER (PARTITION BY source_a, source_b, vb) - 1 AS rb
  FROM m
), agg AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ra) AS BIGINT) AS sa, CAST(sum(rb) AS BIGINT) AS sb,
         CAST(sum(ra * ra) AS BIGINT) AS saa,
         CAST(sum(rb * rb) AS BIGINT) AS sbb,
         CAST(sum(ra * rb) AS BIGINT) AS sab
  FROM ranked GROUP BY source_a, source_b
)
SELECT source_a, source_b, n,
       CASE WHEN CAST(saa AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                   / CAST(n AS DOUBLE) > 0.0
             AND CAST(sbb AS DOUBLE)
                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                   / CAST(n AS DOUBLE) > 0.0 THEN
         floor(((CAST(sab AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                   / CAST(n AS DOUBLE))
                / sqrt((CAST(saa AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                          / CAST(n AS DOUBLE))
                       * (CAST(sbb AS DOUBLE)
                          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                            / CAST(n AS DOUBLE))))
               * 1000000.0 + 0.5) / 1000000.0 END AS rho
FROM agg WHERE n >= 3
"""


def _q_kendall(spark, sf_dir):
    """Kendall τ-b between source pairs on the 60 s bucket-mean grid
    (operators/rankcorr.kendall_pairs, Kendall 1938/1945): exact
    6-dp-grid int64 bucket means, every concordant/discordant/tie
    classification an integer comparison over the keyed O(n²) pair
    join (fail-loud overlap guard), τ ONE fixed float expression —
    the probability-scale complement of spearman's rank moment."""
    from eristropy_spark.operators.rankcorr import kendall_pairs

    ev = _events(spark, sf_dir)
    r = kendall_pairs(ev, source_col="event_type", bucket_sec=60, min_overlap=3)
    return r.select(
        "source_a", "source_b", "n", "n_c", "n_d", _r6("tau").alias("tau")
    )


_ORACLE_KENDALL = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 60000000 AS bucket,
         CAST(floor(avg(value) * 1000000.0 + 0.5) AS BIGINT) AS vi
  FROM events GROUP BY event_type, epoch_us(ts) // 60000000
), m AS (
  SELECT a.source AS source_a, b.source AS source_b, a.bucket AS bucket,
         a.vi AS via, b.vi AS vib
  FROM grid a JOIN grid b ON b.bucket = a.bucket AND a.source < b.source
), cls AS (
  SELECT m1.source_a, m1.source_b,
         sign(m2.via - m1.via) * sign(m2.vib - m1.vib) AS ss,
         sign(m2.via - m1.via) AS sa, sign(m2.vib - m1.vib) AS sb
  FROM m m1 JOIN m m2
    ON m2.source_a = m1.source_a AND m2.source_b = m1.source_b
   AND m1.bucket < m2.bucket
), agg AS (
  SELECT source_a, source_b,
         CAST(sum(CASE WHEN ss > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN ss < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_d,
         CAST(sum(CASE WHEN sa = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
         CAST(sum(CASE WHEN sb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
         CAST(count(*) AS BIGINT) AS n0
  FROM cls GROUP BY source_a, source_b
), nm AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n
  FROM m GROUP BY source_a, source_b
)
SELECT a.source_a, a.source_b, nm.n, a.n_c, a.n_d,
       CASE WHEN (a.n0 - a.t1) > 0 AND (a.n0 - a.t2) > 0 THEN
         floor(CAST(a.n_c - a.n_d AS DOUBLE)
               / sqrt(CAST(a.n0 - a.t1 AS DOUBLE)
                      * CAST(a.n0 - a.t2 AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 END AS tau
FROM agg a
JOIN nm ON nm.source_a = a.source_a AND nm.source_b = a.source_b
WHERE nm.n >= 3
"""


def _q_wilcoxon(spark, sf_dir):
    """Wilcoxon signed-rank z between source pairs paired by shared
    60 s bucket (operators/rankcorr.wilcoxon_signed_rank_pairs,
    Wilcoxon 1945): exact int64 grid differences, zero-diffs drop,
    doubled midranks of |d| exact, tie-corrected z ONE fixed float
    expression from exact integers — the paired complement of
    mannwhitney's independent-samples U."""
    from eristropy_spark.operators.rankcorr import wilcoxon_signed_rank_pairs

    ev = _events(spark, sf_dir)
    r = wilcoxon_signed_rank_pairs(
        ev, source_col="event_type", bucket_sec=60, min_overlap=3
    )
    return r.select("source_a", "source_b", "n", "w2_plus", _r6("z").alias("z"))


_ORACLE_WILCOXON = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 60000000 AS bucket,
         CAST(floor(avg(value) * 1000000.0 + 0.5) AS BIGINT) AS vi
  FROM events GROUP BY event_type, epoch_us(ts) // 60000000
), m AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.vi AS via, b.vi AS vib
  FROM grid a JOIN grid b ON b.bucket = a.bucket AND a.source < b.source
), d AS (
  SELECT source_a, source_b, via - vib AS d, abs(via - vib) AS ad
  FROM m WHERE via <> vib
), ranked AS (
  SELECT source_a, source_b, d,
         2 * rank() OVER (PARTITION BY source_a, source_b ORDER BY ad)
           + count(*) OVER (PARTITION BY source_a, source_b, ad) - 1 AS r2,
         count(*) OVER (PARTITION BY source_a, source_b, ad) AS t
  FROM d
), agg AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2_plus,
         CAST(sum(t * t - 1) AS BIGINT) AS tie
  FROM ranked GROUP BY source_a, source_b
)
SELECT source_a, source_b, n, w2_plus,
       CASE WHEN 2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                 * (2.0 * CAST(n AS DOUBLE) + 1.0)
                 - CAST(tie AS DOUBLE) > 0.0 THEN
         floor((2.0 * CAST(w2_plus AS DOUBLE)
                - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
               * sqrt(3.0)
               / sqrt(2.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                      * (2.0 * CAST(n AS DOUBLE) + 1.0)
                      - CAST(tie AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 END AS z
FROM agg WHERE n >= 3
"""


def _q_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier churn survival over user lifetimes (operators/
    survival.kaplan_meier_churn, Kaplan & Meier 1958): whole-day
    lifetimes, 7-day censor horizon against the corpus end; at-risk
    via a descending running frame, the product as exp of a
    12-dp-DECIMAL log sum (bit-reproducible without recursion)."""
    from eristropy_spark.operators.survival import kaplan_meier_churn

    ev = _events(spark, sf_dir)
    r = kaplan_meier_churn(
        ev, key_col="user_id", ts_col="ts", censor_horizon_days=7
    )
    return r.select(
        "t_days", "n_risk", "n_events", "n_censored", _r6("surv").alias("surv")
    )


_ORACLE_KM = """
WITH pk AS (
  SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
  FROM events GROUP BY user_id
), e AS (
  SELECT max(epoch_us(ts)) AS endus FROM events
), lives AS (
  SELECT (l - f) // 86400000000 AS t_days,
         CASE WHEN l < endus - 604800000000 THEN 1 ELSE 0 END AS ch
  FROM pk CROSS JOIN e
), census AS (
  SELECT t_days, CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(ch) AS BIGINT) AS n_events,
         CAST(count(*) - sum(ch) AS BIGINT) AS n_censored
  FROM lives GROUP BY t_days
), risk AS (
  SELECT *, CAST(sum(n_at) OVER (ORDER BY t_days DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_risk
  FROM census
), terms AS (
  SELECT *,
         CASE WHEN n_events > 0 AND n_events < n_risk THEN
           floor(ln(1.0 - CAST(n_events AS DOUBLE)
                          / CAST(n_risk AS DOUBLE))
                 * 1000000000000.0 + 0.5) / 1000000000000.0
         ELSE 0.0 END AS term
  FROM risk
), cum AS (
  SELECT t_days, n_risk, n_events, n_censored,
         exp(CAST(sum(CAST(term AS DECIMAL(38,12)))
                  OVER (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE)) AS surv_raw,
         (n_events = n_risk AND n_events > 0) AS allout
  FROM terms
)
SELECT t_days, n_risk, n_events, n_censored,
       floor((CASE WHEN allout THEN 0.0 ELSE surv_raw END)
             * 1000000.0 + 0.5) / 1000000.0 AS surv
FROM cum
"""


def _q_granger(spark, sf_dir):
    """One-lag Granger causality between every ordered source pair on
    the 600 s bucket-mean grid (operators/granger.granger_pairs,
    Granger 1969): 6-dp-quantized grid means, 12-dp DECIMAL moment
    sums (associative-exact), OLS closed forms as ONE fixed float
    expression — the directional complement of crosscorr."""
    from eristropy_spark.operators.granger import granger_pairs

    ev = _events(spark, sf_dir)
    r = granger_pairs(ev, source_col="event_type", bucket_sec=600, min_overlap=8)
    return r.select(
        "source_x",
        "source_y",
        "n",
        _r6("beta_y").alias("beta_y"),
        _r6("beta_x").alias("beta_x"),
        _r6("ssr_r").alias("ssr_r"),
        _r6("ssr_f").alias("ssr_f"),
        _r6("f_stat").alias("f_stat"),
    )


_ORACLE_GRANGER = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), triples AS (
  SELECT x.source AS source_x, y.source AS source_y,
         yt.v AS z, y.v AS u, x.v AS w
  FROM grid yt
  JOIN grid y ON y.source = yt.source AND y.bucket = yt.bucket - 1
  JOIN grid x ON x.bucket = yt.bucket - 1 AND x.source <> yt.source
), q AS (
  SELECT source_x, source_y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(u * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS su,
         CAST(sum(CAST(floor(w * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sw,
         CAST(sum(CAST(floor(z * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sz,
         CAST(sum(CAST(floor(u * u * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS suu,
         CAST(sum(CAST(floor(w * w * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sww,
         CAST(sum(CAST(floor(u * w * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS suw,
         CAST(sum(CAST(floor(u * z * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS suz,
         CAST(sum(CAST(floor(w * z * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS swz,
         CAST(sum(CAST(floor(z * z * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS szz
  FROM triples GROUP BY source_x, source_y
), cen AS (
  SELECT source_x, source_y, n,
         suu - su * su / CAST(n AS DOUBLE) AS cuu,
         sww - sw * sw / CAST(n AS DOUBLE) AS cww,
         suw - su * sw / CAST(n AS DOUBLE) AS cuw,
         suz - su * sz / CAST(n AS DOUBLE) AS cuz,
         swz - sw * sz / CAST(n AS DOUBLE) AS cwz,
         szz - sz * sz / CAST(n AS DOUBLE) AS czz
  FROM q
), fit AS (
  SELECT source_x, source_y, n,
         cuu * cww - cuw * cuw AS det,
         cuu, cww, cuw, cuz, cwz, czz
  FROM cen
), mdl AS (
  SELECT source_x, source_y, n,
         CASE WHEN det > 0.0
              THEN (cuz * cww - cwz * cuw) / det END AS beta_y,
         CASE WHEN det > 0.0
              THEN (cwz * cuu - cuz * cuw) / det END AS beta_x,
         CASE WHEN cuu > 0.0 THEN czz - cuz * cuz / cuu END AS ssr_r,
         CASE WHEN det > 0.0
              THEN czz - ((cuz * cww - cwz * cuw) / det) * cuz
                       - ((cwz * cuu - cuz * cuw) / det) * cwz
         END AS ssr_f
  FROM fit
)
SELECT source_x, source_y, n,
       floor(beta_y * 1000000.0 + 0.5) / 1000000.0 AS beta_y,
       floor(beta_x * 1000000.0 + 0.5) / 1000000.0 AS beta_x,
       floor(ssr_r * 1000000.0 + 0.5) / 1000000.0 AS ssr_r,
       floor(ssr_f * 1000000.0 + 0.5) / 1000000.0 AS ssr_f,
       CASE WHEN ssr_r IS NOT NULL AND ssr_f IS NOT NULL
                 AND ssr_f > 0.0 THEN
         floor(((ssr_r - ssr_f) / (ssr_f / (CAST(n AS DOUBLE) - 3.0)))
               * 1000000.0 + 0.5) / 1000000.0
       END AS f_stat
FROM mdl WHERE n >= 8
"""


def _q_coint_eg(spark, sf_dir):
    """Engle–Granger two-step cointegration between every unordered
    source pair on the 600 s bucket-mean grid (operators/coint
    .coint_eg_pairs, Engle & Granger 1987): 6-dp grid means, 12-dp
    DECIMAL step-1 moments, residuals re-quantized to the 6-dp grid,
    12-dp DECIMAL step-2 lag-pair moments, no-constant Dickey–Fuller
    tau as one fixed float expression — grid agg + bucket equi-join +
    keyed window, quadratic in sources only, zero Python."""
    from eristropy_spark.operators.coint import coint_eg_pairs

    ev = _events(spark, sf_dir)
    r = coint_eg_pairs(
        ev, source_col="event_type", bucket_sec=600, min_overlap=8
    )
    return r.select(
        "source_x",
        "source_y",
        "n",
        "n_pairs",
        _r6("alpha").alias("alpha"),
        _r6("beta").alias("beta"),
        _r6("rho").alias("rho"),
        _r6("tau").alias("tau"),
        "coint_5pct",
    )


_ORACLE_COINT = """
WITH grid AS (
  SELECT event_type AS source, epoch_us(ts) // 600000000 AS bucket,
         floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
  FROM events GROUP BY event_type, epoch_us(ts) // 600000000
), al AS (
  SELECT x.source AS source_x, y.source AS source_y, x.bucket,
         x.v AS vx, y.v AS vy
  FROM grid x
  JOIN grid y ON y.bucket = x.bucket AND x.source < y.source
), mom AS (
  SELECT source_x, source_y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(vx * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(floor(vy * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(floor(vx * vx * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(floor(vx * vy * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM al GROUP BY source_x, source_y
), coef AS (
  SELECT source_x, source_y, n,
         CASE WHEN sxx - sx * sx / CAST(n AS DOUBLE) > 0.0 THEN
           (sxy - sx * sy / CAST(n AS DOUBLE))
           / (sxx - sx * sx / CAST(n AS DOUBLE)) END AS b,
         sy / CAST(n AS DOUBLE)
           - (CASE WHEN sxx - sx * sx / CAST(n AS DOUBLE) > 0.0 THEN
                (sxy - sx * sy / CAST(n AS DOUBLE))
                / (sxx - sx * sx / CAST(n AS DOUBLE)) END)
             * sx / CAST(n AS DOUBLE) AS a
  FROM mom WHERE n >= 8
), resid AS (
  SELECT al.source_x, al.source_y, al.bucket, c.n,
         floor((al.vy - c.a - c.b * al.vx) * 1000000.0 + 0.5)
           / 1000000.0 AS u
  FROM al JOIN coef c USING (source_x, source_y)
  WHERE c.b IS NOT NULL
), lagged AS (
  SELECT source_x, source_y, n, u AS uc,
         lag(u) OVER w AS up,
         bucket - lag(bucket) OVER w AS gap
  FROM resid
  WINDOW w AS (PARTITION BY source_x, source_y ORDER BY bucket)
), red AS (
  SELECT source_x, source_y, max(n) AS n,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(floor(up * up * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS s11,
         CAST(sum(CAST(floor(uc * uc * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS s22,
         CAST(sum(CAST(floor(up * uc * 1e12 + 0.5) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS s12
  FROM lagged WHERE up IS NOT NULL AND gap = 1
  GROUP BY source_x, source_y
), st AS (
  SELECT source_x, source_y, n, n_pairs, s11, s22, s12,
         CASE WHEN s11 > 0.0 THEN (s12 - s11) / s11 END AS rho
  FROM red WHERE n_pairs >= 3
), tt AS (
  SELECT source_x, source_y, n, n_pairs, rho,
         ((s22 - 2.0 * s12 + s11) - 2.0 * rho * (s12 - s11)
          + rho * rho * s11) / (CAST(n_pairs AS DOUBLE) - 1.0) AS s2,
         s11
  FROM st
), fin AS (
  SELECT source_x, source_y, n, n_pairs, rho,
         CASE WHEN rho IS NOT NULL AND n_pairs >= 3 AND s2 > 0.0
              THEN rho / sqrt(s2 / s11) END AS tau
  FROM tt
)
SELECT f.source_x, f.source_y, f.n, f.n_pairs,
       floor(c.a * 1000000.0 + 0.5) / 1000000.0 AS alpha,
       floor(c.b * 1000000.0 + 0.5) / 1000000.0 AS beta,
       CASE WHEN f.rho IS NOT NULL
            THEN floor(f.rho * 1000000.0 + 0.5) / 1000000.0 END AS rho,
       CASE WHEN f.tau IS NOT NULL
            THEN floor(f.tau * 1000000.0 + 0.5) / 1000000.0 END AS tau,
       f.tau < -3.34 AS coint_5pct
FROM fin f JOIN coef c USING (source_x, source_y)
"""


def _q_burstiness(spark, sf_dir):
    """Goh–Barabási burstiness B and memory M per event stream
    (operators/interarrival.burstiness_stats): exact integer-µs gaps,
    DECIMAL(38,0)/HUGEINT-exact sums, ONE fixed float expression per
    statistic; one keyed window pass + one aggregate, zero Python."""
    from eristropy_spark.operators.interarrival import burstiness_stats

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    r = burstiness_stats(
        ev, ("user_id", "event_type"), ts_col="ts", tiebreak_col="event_id"
    )
    return r.select(
        "user_id",
        "event_type",
        "n_events",
        "n_gaps",
        _r6("mean_gap_us").alias("mean_gap_us"),
        _r6("burstiness").alias("burstiness"),
        _r6("memory").alias("memory"),
    )


_ORACLE_BURSTINESS = """
WITH pts AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS d
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id)
), lagged AS (
  SELECT user_id, event_type, d,
         lag(d) OVER (PARTITION BY user_id, event_type
                      ORDER BY us, event_id) AS h
  FROM pts
), agg AS (
  SELECT user_id, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(d) AS BIGINT) AS n_gaps,
         CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE) AS s2,
         CAST(count(CASE WHEN h IS NOT NULL THEN 1 END) AS BIGINT) AS m,
         CAST(sum(CASE WHEN h IS NOT NULL
                       THEN CAST(h AS HUGEINT) END) AS DOUBLE) AS p1,
         CAST(sum(CASE WHEN h IS NOT NULL
                       THEN CAST(d AS HUGEINT) END) AS DOUBLE) AS p2,
         CAST(sum(CASE WHEN h IS NOT NULL
                       THEN CAST(h AS HUGEINT) * CAST(d AS HUGEINT)
                  END) AS DOUBLE) AS p11,
         CAST(sum(CASE WHEN h IS NOT NULL
                       THEN CAST(h AS HUGEINT) * CAST(h AS HUGEINT)
                  END) AS DOUBLE) AS p1s,
         CAST(sum(CASE WHEN h IS NOT NULL
                       THEN CAST(d AS HUGEINT) * CAST(d AS HUGEINT)
                  END) AS DOUBLE) AS p2s
  FROM lagged GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_events, n_gaps,
       CASE WHEN n_gaps >= 1 THEN
         floor((s1 / CAST(n_gaps AS DOUBLE)) * 1000000 + 0.5) / 1000000
       END AS mean_gap_us,
       CASE WHEN n_gaps >= 2
              AND sqrt(s2 / CAST(n_gaps AS DOUBLE)
                       - (s1 / CAST(n_gaps AS DOUBLE))
                         * (s1 / CAST(n_gaps AS DOUBLE)))
                  + s1 / CAST(n_gaps AS DOUBLE) > 0.0 THEN
         floor(((sqrt(s2 / CAST(n_gaps AS DOUBLE)
                      - (s1 / CAST(n_gaps AS DOUBLE))
                        * (s1 / CAST(n_gaps AS DOUBLE)))
                 - s1 / CAST(n_gaps AS DOUBLE))
                / (sqrt(s2 / CAST(n_gaps AS DOUBLE)
                        - (s1 / CAST(n_gaps AS DOUBLE))
                          * (s1 / CAST(n_gaps AS DOUBLE)))
                   + s1 / CAST(n_gaps AS DOUBLE)))
               * 1000000 + 0.5) / 1000000
       END AS burstiness,
       CASE WHEN m >= 2
              AND CAST(m AS DOUBLE) * p1s - p1 * p1 > 0.0
              AND CAST(m AS DOUBLE) * p2s - p2 * p2 > 0.0 THEN
         floor(((CAST(m AS DOUBLE) * p11 - p1 * p2)
                / sqrt((CAST(m AS DOUBLE) * p1s - p1 * p1)
                       * (CAST(m AS DOUBLE) * p2s - p2 * p2)))
               * 1000000 + 0.5) / 1000000
       END AS memory
FROM agg
"""


def _q_ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment pairs (operators/dedup
    .ngram_containment_pairs, Broder 1997): sub-document / quotation
    detection the symmetric Jaccard misses — same quarantined exact
    shared-shingle join as ngram_jaccard."""
    from eristropy_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


_ORACLE_NGRAM_CONTAINMENT = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS shingle
  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0)))
                   AS i)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM sh x JOIN sh y USING (shingle)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a, doc_b, n_inter, a.n_sh AS n_a, b.n_sh AS n_b,
         floor((CAST(n_inter AS DOUBLE) / a.n_sh) * 1000000 + 0.5)
           / 1000000 AS cont_a,
         floor((CAST(n_inter AS DOUBLE) / b.n_sh) * 1000000 + 0.5)
           / 1000000 AS cont_b
  FROM inter
  JOIN sizes a ON a.doc_id = doc_a
  JOIN sizes b ON b.doc_id = doc_b
)
SELECT doc_a, doc_b, n_inter, n_a, n_b, cont_a, cont_b
FROM scored WHERE greatest(cont_a, cont_b) >= 0.5
"""


def _q_stratified_sample(spark, sf_dir):
    """Deterministic k-per-stratum sample (operators/sampling
    .stratified_sample): md5-rank top-k within each source stratum —
    the balanced-mix counterpart of md5_sample's global rate."""
    from eristropy_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    r = stratified_sample(docs, stratum_col="source", key_col="doc_id", k=20)
    return r.select("doc_id", "source")


_ORACLE_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
         ) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= 20
"""


def _q_mannwhitney(spark, sf_dir):
    """Mann–Whitney U drift per signal (operators/drift
    .mannwhitney_drift): first-half vs second-half rank test — the
    location complement of ks_drift.  Doubled rank sums and tie terms
    are exact int64; auc/z are ONE fixed float expression each."""
    from eristropy_spark.operators.drift import mannwhitney_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = mannwhitney_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "u2",
        _r6("auc").alias("auc"),
        _r6("z").alias("z"),
    )


_ORACLE_MWU = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb, ca + cb AS t,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cumt
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), red AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         CAST(sum(cb * (2 * cumt - t + 1)) AS BIGINT) AS r2b,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie
  FROM cum GROUP BY user_id, event_type
), fin AS (
  SELECT user_id, event_type, n_ref, n_cur,
         r2b - n_cur * (n_cur + 1) AS u2,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb,
         CAST(tie AS DOUBLE) AS td
  FROM red
), varc AS (
  SELECT user_id, event_type, n_ref, n_cur, u2, na, nb,
         (na * nb / 12.0)
           * (((na + nb) + 1.0)
              - td / ((na + nb) * ((na + nb) - 1.0))) AS var_u
  FROM fin
)
SELECT user_id, event_type, n_ref, n_cur, u2,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor((CAST(u2 AS DOUBLE) / (2.0 * na * nb))
               * 1000000 + 0.5) / 1000000 END AS auc,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND var_u > 0.0 THEN
         floor(((CAST(u2 AS DOUBLE) - na * nb) / (2.0 * sqrt(var_u)))
               * 1000000 + 0.5) / 1000000 END AS z
FROM varc
"""


def _q_allan(spark, sf_dir):
    """Allan variance per signal over the τ grid (operators/rollup
    .allan_variance, Allan 1966 / IEEE 1139): the stability-vs-
    averaging-time curve of the rollup cascade itself — white noise
    slopes τ⁻¹, random-walk drift τ⁺¹, the knee is the optimal rollup
    horizon.  Values pre-scaled to exact centi-units so bucket sums
    are exact longs; bucket means 12-dp-quantized (psi rule), squared
    adjacent diffs 6-dp into DECIMAL(38,6), AVAR one float division.
    One (key, τ, bucket) map-side-combined aggregate + lag window,
    no joins, zero Python."""
    from eristropy_spark.operators.rollup import allan_variance

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cval"),
    )
    r = allan_variance(
        ev,
        ("user_id", "event_type"),
        ts_col="ts",
        value_col="cval",
        taus=(60, 240, 960),
    )
    return r.select(
        "user_id",
        "event_type",
        "tau_s",
        "n_buckets",
        "m_pairs",
        _r6("avar").alias("avar"),
        _r6("adev").alias("adev"),
    )


_ORACLE_ALLAN = """
WITH pts AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(value * 100) AS BIGINT) AS cval
  FROM events
), ex AS (
  SELECT p.*, t.tau_s
  FROM pts p CROSS JOIN (VALUES (60), (240), (960)) AS t(tau_s)
), g AS (
  SELECT user_id, event_type, tau_s,
         CAST(floor(CAST(sec AS DOUBLE) / CAST(tau_s AS DOUBLE))
              AS BIGINT) AS bucket,
         CAST(sum(cval) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM ex GROUP BY 1, 2, 3, 4
), m AS (
  SELECT user_id, event_type, tau_s, bucket,
         CAST(floor(CAST(s AS DOUBLE) / CAST(c AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS m12
  FROM g
), lagd AS (
  SELECT user_id, event_type, tau_s, bucket, m12,
         lag(bucket) OVER w AS pb, lag(m12) OVER w AS pm
  FROM m
  WINDOW w AS (PARTITION BY user_id, event_type, tau_s ORDER BY bucket)
), red AS (
  SELECT user_id, event_type, tau_s,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN pb = bucket - 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS m_pairs,
         sum(CASE WHEN pb = bucket - 1 THEN
               CAST(floor(CAST(m12 - pm AS DOUBLE)
                          * CAST(m12 - pm AS DOUBLE)
                          * 1000000 + 0.5) / 1000000 AS DECIMAL(38, 6))
             END) AS ss
  FROM lagd GROUP BY 1, 2, 3
)
SELECT user_id, event_type, tau_s, n_buckets, m_pairs,
       CASE WHEN m_pairs >= 1 THEN
         floor(CAST(ss AS DOUBLE) / (2.0 * CAST(m_pairs AS DOUBLE))
               * 1000000 + 0.5) / 1000000 END AS avar,
       CASE WHEN m_pairs >= 1 THEN
         floor(sqrt(CAST(ss AS DOUBLE)
                    / (2.0 * CAST(m_pairs AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 END AS adev
FROM red
"""


def _q_hadamard(spark, sf_dir):
    """Hadamard variance per signal over the τ grid (operators/rollup
    .hadamard_variance, Baugh 1971 / IEEE 1139): the drift-immune
    second-difference companion of allan_variance — linear ramps
    cancel exactly, exposing the noise floor alone.  Same exactness
    protocol (centi-unit values, 12-dp bucket means, 6-dp squared
    second differences) and the same one-aggregate shape."""
    from eristropy_spark.operators.rollup import hadamard_variance

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cval"),
    )
    r = hadamard_variance(
        ev,
        ("user_id", "event_type"),
        ts_col="ts",
        value_col="cval",
        taus=(60, 240, 960),
    )
    return r.select(
        "user_id",
        "event_type",
        "tau_s",
        "n_buckets",
        "m_triples",
        _r6("hvar").alias("hvar"),
        _r6("hdev").alias("hdev"),
    )


_ORACLE_HADAMARD = """
WITH pts AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(value * 100) AS BIGINT) AS cval
  FROM events
), ex AS (
  SELECT p.*, t.tau_s
  FROM pts p CROSS JOIN (VALUES (60), (240), (960)) AS t(tau_s)
), g AS (
  SELECT user_id, event_type, tau_s,
         CAST(floor(CAST(sec AS DOUBLE) / CAST(tau_s AS DOUBLE))
              AS BIGINT) AS bucket,
         CAST(sum(cval) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM ex GROUP BY 1, 2, 3, 4
), m AS (
  SELECT user_id, event_type, tau_s, bucket,
         CAST(floor(CAST(s AS DOUBLE) / CAST(c AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS m12
  FROM g
), lagd AS (
  SELECT user_id, event_type, tau_s, bucket, m12,
         lag(bucket, 1) OVER w AS pb1, lag(m12, 1) OVER w AS pm1,
         lag(bucket, 2) OVER w AS pb2, lag(m12, 2) OVER w AS pm2
  FROM m
  WINDOW w AS (PARTITION BY user_id, event_type, tau_s ORDER BY bucket)
), red AS (
  SELECT user_id, event_type, tau_s,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN pb1 = bucket - 1 AND pb2 = bucket - 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS m_triples,
         sum(CASE WHEN pb1 = bucket - 1 AND pb2 = bucket - 2 THEN
               CAST(floor(CAST(m12 - 2 * pm1 + pm2 AS DOUBLE)
                          * CAST(m12 - 2 * pm1 + pm2 AS DOUBLE)
                          * 1000000 + 0.5) / 1000000 AS DECIMAL(38, 6))
             END) AS ss
  FROM lagd GROUP BY 1, 2, 3
)
SELECT user_id, event_type, tau_s, n_buckets, m_triples,
       CASE WHEN m_triples >= 1 THEN
         floor(CAST(ss AS DOUBLE) / (6.0 * CAST(m_triples AS DOUBLE))
               * 1000000 + 0.5) / 1000000 END AS hvar,
       CASE WHEN m_triples >= 1 THEN
         floor(sqrt(CAST(ss AS DOUBLE)
                    / (6.0 * CAST(m_triples AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 END AS hdev
FROM red
"""


def _q_kuiper(spark, sf_dir):
    """Kuiper V drift per signal (operators/drift.kuiper_drift,
    Kuiper 1960): the rotation-invariant KS twin — V = D⁺ + D⁻ from
    the exact-integer signed census differences, full tail
    sensitivity; v_num exact BIGINT, λ/p_bound fixed float
    expressions (Stephens finite-n λ, NR small-λ pin)."""
    from eristropy_spark.operators.drift import kuiper_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = kuiper_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "vplus_num",
        "vminus_num",
        "v_num",
        _r6("v").alias("v"),
        _r6("lam").alias("lam"),
        _r6("p_bound").alias("p_bound"),
    )


_ORACLE_KUIPER = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type,
         CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         CAST(sum(cb) OVER w AS BIGINT) AS cumb
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT user_id, event_type, cuma, cumb,
         CAST(max(cuma) OVER pk AS BIGINT) AS na,
         CAST(max(cumb) OVER pk AS BIGINT) AS nb
  FROM cum
  WINDOW pk AS (PARTITION BY user_id, event_type)
), red AS (
  SELECT user_id, event_type,
         CAST(max(na) AS BIGINT) AS n_ref,
         CAST(max(nb) AS BIGINT) AS n_cur,
         CAST(GREATEST(max(cumb * na - cuma * nb), 0) AS BIGINT)
           AS vplus_num,
         CAST(GREATEST(-min(cumb * na - cuma * nb), 0) AS BIGINT)
           AS vminus_num
  FROM tot GROUP BY user_id, event_type
), fin AS (
  SELECT user_id, event_type, n_ref, n_cur, vplus_num, vminus_num,
         vplus_num + vminus_num AS v_num,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb
  FROM red
), st AS (
  SELECT *,
         CAST(v_num AS DOUBLE) / (na * nb) AS v,
         (sqrt(na * nb / (na + nb)) + 0.155
          + 0.24 / sqrt(na * nb / (na + nb)))
           * (CAST(v_num AS DOUBLE) / (na * nb)) AS lam
  FROM fin
)
SELECT user_id, event_type, n_ref, n_cur, vplus_num, vminus_num, v_num,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(v * 1000000 + 0.5) / 1000000 END AS v,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         floor(lam * 1000000 + 0.5) / 1000000 END AS lam,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 THEN
         CASE WHEN lam < 0.4 THEN 1.0 ELSE
           floor(LEAST(1.0, GREATEST(0.0,
             2.0 * (4.0 * (lam * lam) - 1.0)
               * exp(-2.0 * (lam * lam))))
             * 1000000 + 0.5) / 1000000 END
       END AS p_bound
FROM st
"""


def _q_ansari(spark, sf_dir):
    """Ansari–Bradley scale-drift per signal (operators/drift
    .ansari_drift, Ansari & Bradley 1960): first-half vs second-half
    DISPERSION test, the scale complement of mannwhitney_drift —
    tie-run score sums exact DECIMAL(38,0) triangular numbers, run
    mean scores 12-dp-quantized (psi rule), linear-rank variance; w/z
    ONE fixed float expression each."""
    from eristropy_spark.operators.drift import ansari_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = ansari_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("w").alias("w"),
        _r6("z").alias("z"),
    )


_ORACLE_ANSARI = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb, ca + cb AS t,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cumt,
         CAST(sum(ca + cb) OVER pk AS BIGINT) AS nn
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         pk AS (PARTITION BY user_id, event_type)
), scored AS (
  SELECT user_id, event_type, ca, cb, t,
         CAST(floor(2.0 * CAST(ss AS DOUBLE) / CAST(t AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(38, 12)) AS a2
  FROM (
    SELECT *,
           CASE WHEN LEAST(CAST(cumt AS HUGEINT), m) >= lo
                THEN (LEAST(CAST(cumt AS HUGEINT), m)
                      * (LEAST(CAST(cumt AS HUGEINT), m) + 1)
                      - (lo - 1) * lo) // 2 ELSE 0 END
           + CASE WHEN CAST(cumt AS HUGEINT) >= GREATEST(lo, m + 1)
                  THEN (CAST(cumt AS HUGEINT)
                        - GREATEST(lo, m + 1) + 1) * (nn + 1)
                       - (CAST(cumt AS HUGEINT) * (cumt + 1)
                          - (GREATEST(lo, m + 1) - 1)
                            * GREATEST(lo, m + 1)) // 2
                  ELSE 0 END AS ss
    FROM (
      SELECT *,
             CAST(cumt - t + 1 AS HUGEINT) AS lo,
             CAST((nn + 1) // 2 AS HUGEINT) AS m
      FROM cum
    )
  )
), red AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         sum(CAST(cb AS DECIMAL(38, 0)) * a2) AS w2,
         sum(CAST(t AS DECIMAL(38, 0)) * a2) AS t1,
         sum(CAST(floor(CAST(t AS DOUBLE) * CAST(a2 AS DOUBLE)
                        * CAST(a2 AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS DECIMAL(38, 6))) AS t2,
         CAST(count(*) AS BIGINT) AS nv
  FROM scored GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_ref, n_cur,
       floor(CAST(w2 AS DOUBLE) / 2.0 * 1000000 + 0.5) / 1000000 AS w,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND n_ref + n_cur >= 2
                 AND nv >= 2
                 AND (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                     * CAST(t2 AS DOUBLE)
                     - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) > 0.0
            THEN floor(
              (CAST(w2 AS DOUBLE)
                 * (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
               - CAST(n_cur AS DOUBLE) * CAST(t1 AS DOUBLE))
              / sqrt(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                     * ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                        * CAST(t2 AS DOUBLE)
                        - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
                     / ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                        - 1.0))
              * 1000000 + 0.5) / 1000000
       END AS z
FROM red
"""


def _q_fligner_policello(spark, sf_dir):
    """Fligner–Policello robust rank-order drift per signal
    (operators/drift.fligner_policello_drift, Fligner & Policello
    1981): the rank Behrens–Fisher — location drift with NO
    equal-variance assumption, placement sums studentized by their
    own empirical variances.  Doubled midplacements 2P = 2·cumB − cB
    exact off the shared census cumulative; doubled means
    12-dp-quantized, quadrupled variance terms 6-dp; Û ONE fixed
    float expression."""
    from eristropy_spark.operators.drift import fligner_policello_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = fligner_policello_drift(
        ev, ("user_id", "event_type"), tiebreak_col="event_id"
    )
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        "p2_sum",
        "q2_sum",
        _r6("u_stat").alias("u_stat"),
    )


_ORACLE_FLIGNER_POLICELLO = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb,
         CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         CAST(sum(cb) OVER w AS BIGINT) AS cumb
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pl AS (
  SELECT user_id, event_type, ca, cb,
         CAST(2 * cumb - cb AS BIGINT) AS p2,
         CAST(2 * cuma - ca AS BIGINT) AS q2
  FROM cum
), sums AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         sum(CAST(ca AS HUGEINT) * p2) AS sp2,
         sum(CAST(cb AS HUGEINT) * q2) AS sq2
  FROM pl GROUP BY user_id, event_type
), mb AS (
  SELECT user_id, event_type, n_ref, n_cur, sp2, sq2,
         CAST(floor(CAST(sp2 AS DOUBLE) / CAST(n_ref AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(24, 12)) AS pb2,
         CAST(floor(CAST(sq2 AS DOUBLE) / CAST(n_cur AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(24, 12)) AS qb2
  FROM sums
), red AS (
  SELECT p.user_id, p.event_type,
         max(m.n_ref) AS n_ref, max(m.n_cur) AS n_cur,
         max(m.sp2) AS sp2, max(m.sq2) AS sq2,
         sum(CAST(floor(CAST(p.ca AS DOUBLE)
                * CAST(CAST(p.p2 AS DECIMAL(24, 12)) - m.pb2 AS DOUBLE)
                * CAST(CAST(p.p2 AS DECIMAL(24, 12)) - m.pb2 AS DOUBLE)
                * 1000000 + 0.5) / 1000000 AS DECIMAL(38, 6))) AS vx4,
         sum(CAST(floor(CAST(p.cb AS DOUBLE)
                * CAST(CAST(p.q2 AS DECIMAL(24, 12)) - m.qb2 AS DOUBLE)
                * CAST(CAST(p.q2 AS DECIMAL(24, 12)) - m.qb2 AS DOUBLE)
                * 1000000 + 0.5) / 1000000 AS DECIMAL(38, 6))) AS vy4
  FROM pl p JOIN mb m USING (user_id, event_type)
  GROUP BY p.user_id, p.event_type
), st AS (
  SELECT user_id, event_type, n_ref, n_cur,
         CAST(sp2 AS BIGINT) AS p2_sum, CAST(sq2 AS BIGINT) AS q2_sum,
         CAST(vx4 AS DOUBLE) + CAST(vy4 AS DOUBLE)
           + (CAST(sp2 AS DOUBLE) / CAST(n_ref AS DOUBLE))
             * (CAST(sq2 AS DOUBLE) / CAST(n_cur AS DOUBLE)) AS stud,
         CAST(sq2 AS DOUBLE) - CAST(sp2 AS DOUBLE) AS num
  FROM red
)
SELECT user_id, event_type, n_ref, n_cur, p2_sum, q2_sum,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND stud > 0.0 THEN
         floor(num / (2.0 * sqrt(stud)) * 1000000 + 0.5) / 1000000
       END AS u_stat
FROM st
"""


def _q_cucconi(spark, sf_dir):
    """Cucconi omnibus drift per signal (operators/drift
    .cucconi_drift, Cucconi 1968 / Marozzi 2009): squared ranks and
    squared contrary ranks combined through their exact negative
    correlation — the other location+scale omnibus next to
    lepage_drift, often stronger under heavy tails.  Quadrupled
    moments exact DECIMAL(38,0) via doubled midranks; U, V, ρ, C
    each ONE fixed float expression."""
    from eristropy_spark.operators.drift import cucconi_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = cucconi_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("u").alias("u"),
        _r6("v").alias("v"),
        _r6("c_stat").alias("c_stat"),
    )


_ORACLE_CUCCONI = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb, ca + cb AS t,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cumt,
         CAST(sum(ca + cb) OVER pk AS BIGINT) AS nn
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         pk AS (PARTITION BY user_id, event_type)
), red AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         sum(CAST(cb AS HUGEINT)
             * (2 * cumt - t + 1) * (2 * cumt - t + 1)) AS sr4,
         sum(CAST(cb AS HUGEINT)
             * (2 * (nn + 1) - (2 * cumt - t + 1))
             * (2 * (nn + 1) - (2 * cumt - t + 1))) AS sc4,
         CAST(count(*) AS BIGINT) AS nv
  FROM cum GROUP BY user_id, event_type
), st AS (
  SELECT user_id, event_type, n_ref, n_cur, nv,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb,
         CAST(sr4 AS DOUBLE) AS sr4d, CAST(sc4 AS DOUBLE) AS sc4d
  FROM red
), zz AS (
  SELECT *,
         (6.0 * sr4d
          - 4.0 * nb * (na + nb + 1.0) * (2.0 * (na + nb) + 1.0))
         / (4.0 * sqrt(na * nb * (na + nb + 1.0)
                       * (2.0 * (na + nb) + 1.0)
                       * (8.0 * (na + nb) + 11.0) / 5.0)) AS u,
         (6.0 * sc4d
          - 4.0 * nb * (na + nb + 1.0) * (2.0 * (na + nb) + 1.0))
         / (4.0 * sqrt(na * nb * (na + nb + 1.0)
                       * (2.0 * (na + nb) + 1.0)
                       * (8.0 * (na + nb) + 11.0) / 5.0)) AS v,
         2.0 * ((na + nb) * (na + nb) - 4.0)
           / ((2.0 * (na + nb) + 1.0) * (8.0 * (na + nb) + 11.0))
           - 1.0 AS rho
  FROM st
)
SELECT user_id, event_type, n_ref, n_cur,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND n_ref + n_cur >= 3
                 AND nv >= 2 THEN
         floor(u * 1000000 + 0.5) / 1000000 END AS u,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND n_ref + n_cur >= 3
                 AND nv >= 2 THEN
         floor(v * 1000000 + 0.5) / 1000000 END AS v,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND n_ref + n_cur >= 3
                 AND nv >= 2 THEN
         floor((u * u + v * v - 2.0 * rho * u * v)
               / (2.0 * (1.0 - rho * rho)) * 1000000 + 0.5)
           / 1000000 END AS c_stat
FROM zz
"""


def _q_lepage(spark, sf_dir):
    """Lepage location+scale omnibus drift per signal
    (operators/drift.lepage_drift, Lepage 1971): L = z_W² + z_AB² ~
    χ²(2) — Wilcoxon and Ansari–Bradley z's computed from ONE census
    pass (strictly cheaper than running the two parents), exact
    doubled midranks / triangular run scores, structural degeneracy
    guard; each z and L ONE fixed float expression."""
    from eristropy_spark.operators.drift import lepage_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = lepage_drift(ev, ("user_id", "event_type"), tiebreak_col="event_id")
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("z_w").alias("z_w"),
        _r6("z_ab").alias("z_ab"),
        _r6("l_stat").alias("l_stat"),
    )


_ORACLE_LEPAGE = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb, ca + cb AS t,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cumt,
         CAST(sum(ca + cb) OVER pk AS BIGINT) AS nn
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         pk AS (PARTITION BY user_id, event_type)
), scored AS (
  SELECT user_id, event_type, ca, cb, t, cumt,
         CAST(floor(2.0 * CAST(ss AS DOUBLE) / CAST(t AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(24, 12)) AS a2
  FROM (
    SELECT *,
           CASE WHEN LEAST(CAST(cumt AS HUGEINT), m) >= lo
                THEN (LEAST(CAST(cumt AS HUGEINT), m)
                      * (LEAST(CAST(cumt AS HUGEINT), m) + 1)
                      - (lo - 1) * lo) // 2 ELSE 0 END
           + CASE WHEN CAST(cumt AS HUGEINT) >= GREATEST(lo, m + 1)
                  THEN (CAST(cumt AS HUGEINT)
                        - GREATEST(lo, m + 1) + 1) * (nn + 1)
                       - (CAST(cumt AS HUGEINT) * (cumt + 1)
                          - (GREATEST(lo, m + 1) - 1)
                            * GREATEST(lo, m + 1)) // 2
                  ELSE 0 END AS ss
    FROM (
      SELECT *,
             CAST(cumt - t + 1 AS HUGEINT) AS lo,
             CAST((nn + 1) // 2 AS HUGEINT) AS m
      FROM cum
    )
  )
), red AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         CAST(sum(cb * (2 * cumt - t + 1)) AS BIGINT) AS r2b,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie,
         sum(CAST(cb AS DECIMAL(13, 0)) * a2) AS w2,
         sum(CAST(t AS DECIMAL(13, 0)) * a2) AS t1,
         sum(CAST(floor(CAST(t AS DOUBLE) * CAST(a2 AS DOUBLE)
                        * CAST(a2 AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS DECIMAL(38, 6))) AS t2,
         CAST(count(*) AS BIGINT) AS nv
  FROM scored GROUP BY user_id, event_type
), zz AS (
  SELECT user_id, event_type, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) AS na, CAST(n_cur AS DOUBLE) AS nb,
         r2b - n_cur * (n_cur + 1) AS u2,
         CAST(tie AS DOUBLE) AS td,
         CAST(w2 AS DOUBLE) AS w2d, CAST(t1 AS DOUBLE) AS t1d,
         CAST(t2 AS DOUBLE) AS t2d, nv
  FROM red
), st AS (
  SELECT user_id, event_type, n_ref, n_cur,
         CASE WHEN n_ref >= 1 AND n_cur >= 1 AND nv >= 2
                   AND (na * nb / 12.0)
                       * ((na + nb + 1.0)
                          - td / ((na + nb) * (na + nb - 1.0))) > 0.0
              THEN (CAST(u2 AS DOUBLE) - na * nb)
                   / (2.0 * sqrt((na * nb / 12.0)
                        * ((na + nb + 1.0)
                           - td / ((na + nb) * (na + nb - 1.0)))))
         END AS z_w,
         CASE WHEN n_ref >= 1 AND n_cur >= 1 AND n_ref + n_cur >= 2
                   AND nv >= 2
                   AND (na + nb) * t2d - t1d * t1d > 0.0
              THEN (w2d * (na + nb) - nb * t1d)
                   / sqrt(na * nb * ((na + nb) * t2d - t1d * t1d)
                          / ((na + nb) - 1.0))
         END AS z_ab
  FROM zz
)
SELECT user_id, event_type, n_ref, n_cur,
       CASE WHEN z_w IS NOT NULL THEN
         floor(z_w * 1000000 + 0.5) / 1000000 END AS z_w,
       CASE WHEN z_ab IS NOT NULL THEN
         floor(z_ab * 1000000 + 0.5) / 1000000 END AS z_ab,
       CASE WHEN z_w IS NOT NULL AND z_ab IS NOT NULL THEN
         floor((z_w * z_w + z_ab * z_ab) * 1000000 + 0.5) / 1000000
       END AS l_stat
FROM st
"""


def _q_mood_scale(spark, sf_dir):
    """Mood two-sample scale drift per signal (operators/drift
    .mood_scale_drift, Mood 1954): quadratic centre-out scores
    (i−(N+1)/2)² with tie-run averaging — the power complement of
    ansari_drift (heavier tail weighting, opposite sign convention);
    quadrupled run score sums exact via the square-pyramidal closed
    form, 12-dp run means, (13,0)×(24,12) products, structural
    degeneracy guard; t/z ONE fixed float expression each."""
    from eristropy_spark.operators.drift import mood_scale_drift

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    r = mood_scale_drift(
        ev, ("user_id", "event_type"), tiebreak_col="event_id"
    )
    return r.select(
        "user_id",
        "event_type",
        "n_ref",
        "n_cur",
        _r6("t").alias("t"),
        _r6("z").alias("z"),
    )


_ORACLE_MOOD_SCALE = """
WITH pts AS (
  SELECT user_id, event_type, value AS v,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), tagged AS (
  SELECT user_id, event_type, v, (i < n // 2) AS ref FROM pts
), cv AS (
  SELECT user_id, event_type, v,
         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tagged GROUP BY user_id, event_type, v
), cum AS (
  SELECT user_id, event_type, ca, cb, ca + cb AS t,
         CAST(sum(ca + cb) OVER w AS BIGINT) AS cumt,
         CAST(sum(ca + cb) OVER pk AS BIGINT) AS nn
  FROM cv
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         pk AS (PARTITION BY user_id, event_type)
), scored AS (
  SELECT user_id, event_type, ca, cb, t,
         CAST(floor(CAST(s4 AS DOUBLE) / CAST(t AS DOUBLE)
                    * 1000000000000.0 + 0.5) / 1000000000000.0
              AS DECIMAL(24, 12)) AS a4
  FROM (
    SELECT *,
           4 * ((hi * (hi + 1) * (2 * hi + 1)
                 - (lo - 1) * lo * (2 * lo - 1)) // 6)
           - 4 * np1 * ((hi * (hi + 1) - (lo - 1) * lo) // 2)
           + CAST(t AS HUGEINT) * np1 * np1 AS s4
    FROM (
      SELECT *,
             CAST(cumt - t + 1 AS HUGEINT) AS lo,
             CAST(cumt AS HUGEINT) AS hi,
             CAST(nn + 1 AS HUGEINT) AS np1
      FROM cum
    )
  )
), red AS (
  SELECT user_id, event_type,
         CAST(sum(ca) AS BIGINT) AS n_ref,
         CAST(sum(cb) AS BIGINT) AS n_cur,
         sum(CAST(cb AS DECIMAL(13, 0)) * a4) AS w4,
         sum(CAST(t AS DECIMAL(13, 0)) * a4) AS t1,
         sum(CAST(floor(CAST(t AS DOUBLE) * CAST(a4 AS DOUBLE)
                        * CAST(a4 AS DOUBLE) * 1000000 + 0.5) / 1000000
                  AS DECIMAL(38, 6))) AS t2,
         CAST(count(*) AS BIGINT) AS nv
  FROM scored GROUP BY user_id, event_type
)
SELECT user_id, event_type, n_ref, n_cur,
       floor(CAST(w4 AS DOUBLE) / 4.0 * 1000000 + 0.5) / 1000000 AS t,
       CASE WHEN n_ref >= 1 AND n_cur >= 1 AND n_ref + n_cur >= 2
                 AND nv >= 2
                 AND (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                     * CAST(t2 AS DOUBLE)
                     - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) > 0.0
            THEN floor(
              (CAST(w4 AS DOUBLE)
                 * (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
               - CAST(n_cur AS DOUBLE) * CAST(t1 AS DOUBLE))
              / sqrt(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                     * ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                        * CAST(t2 AS DOUBLE)
                        - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
                     / ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))
                        - 1.0))
              * 1000000 + 0.5) / 1000000
       END AS z
FROM red
"""


def _q_funnel(spark, sf_dir):
    """Ordered funnel conversion view → click → purchase within 7 days
    per step (operators/funnel.funnel_conversion): chained per-step
    minima as window aggregates over ONE key partitioning,
    earliest-completion semantics, exact-count fractions."""
    from eristropy_spark.operators.funnel import funnel_conversion

    ev = _events(spark, sf_dir)
    return funnel_conversion(
        ev,
        steps=["view", "click", "purchase"],
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        horizon_sec=7 * 86400.0,
    )


_ORACLE_FUNNEL = """
WITH t0 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), t1 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t0 ON t0.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > t0.t
    AND epoch_us(e.ts) - epoch_us(t0.t) <= 604800000000
  GROUP BY e.user_id
), t2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t1.t
    AND epoch_us(e.ts) - epoch_us(t1.t) <= 604800000000
  GROUP BY e.user_id
), c AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM t0) AS n0,
         (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n1,
         (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n2
)
SELECT 0 AS step_idx, 'view' AS step, n0 AS n_reached,
       CASE WHEN n0 > 0 THEN floor(CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0 END AS frac FROM c
UNION ALL
SELECT 1, 'click', n1,
       CASE WHEN n0 > 0 THEN floor(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0 END FROM c
UNION ALL
SELECT 2, 'purchase', n2,
       CASE WHEN n0 > 0 THEN floor(CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0 END FROM c
"""


def _q_retention(spark, sf_dir):
    """Weekly retention cohorts (operators/funnel.retention_cohorts):
    first-activity week per user, distinct actives per (cohort, week
    offset), retention vs the cohort's own week 0 — two two-phase
    aggregates, exact counts."""
    from eristropy_spark.operators.funnel import retention_cohorts

    ev = _events(spark, sf_dir)
    return retention_cohorts(ev, key_col="user_id", ts_col="ts", period="week")


_ORACLE_RETENTION = """
WITH pts AS (
  SELECT user_id, date_trunc('week', ts) AS b FROM events
), coh AS (
  SELECT user_id, min(b) AS cohort FROM pts GROUP BY user_id
), act AS (
  SELECT DISTINCT p.user_id, c.cohort,
         (epoch_us(p.b) - epoch_us(c.cohort)) // 604800000000 AS off
  FROM pts p JOIN coh c ON c.user_id = p.user_id
), agg AS (
  SELECT cohort, off, CAST(count(*) AS BIGINT) AS n_active
  FROM act GROUP BY cohort, off
), sized AS (
  SELECT cohort, off, n_active,
         max(CASE WHEN off = 0 THEN n_active END)
           OVER (PARTITION BY cohort) AS n_cohort
  FROM agg
)
SELECT cohort, CAST(off AS BIGINT) AS "offset", n_active, n_cohort,
       floor(CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS retention
FROM sized
"""


def _q_cross_sampen(spark, sf_dir):
    """Cross-sample entropy between same-user signal pairs (operators/
    crossentropy.cross_sampen_pairs, Richman & Moorman 2000): pairs
    form within each user's event-type set (never all-signals²); the
    O(nu·nv) strict-<r Chebyshev match count runs vectorized in ONE
    mapInArrow boundary over independently z-normed series.  The
    oracle replays the full pair count over window-z-normed values —
    the cross analogue of the sampen_permen replay."""
    from eristropy_spark.operators.crossentropy import cross_sampen_pairs

    tokens = events_to_tokens(_utc(spark), sf_dir).withColumn(
        "user", F.substring_index("doc_id", ":", 1)
    )
    r = cross_sampen_pairs(
        tokens, m=1, r=0.2, key_col="user", label_col="source",
        array_col="tokens",
    )
    return r.select(
        "key", "src_a", "src_b", "n_a", "n_b", "b_cnt", "a_cnt",
        _r6("cse").alias("cse"),
    )


_ORACLE_CROSS_SAMPEN = """
WITH seq AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS INT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), z AS (
  SELECT user_id, event_type, i, n,
         (tok - avg(tok) OVER d) / nullif(stddev_samp(tok) OVER d, 0) AS zv
  FROM seq
  WINDOW d AS (PARTITION BY user_id, event_type)
), z2 AS (
  SELECT *, lead(zv) OVER (PARTITION BY user_id, event_type ORDER BY i)
              AS zv1
  FROM z
), prs AS (
  SELECT CAST(a.user_id AS VARCHAR) AS key,
         a.event_type AS src_a, b.event_type AS src_b,
         CAST(max(a.n) AS INT) AS n_a, CAST(max(b.n) AS INT) AS n_b,
         CAST(count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2) AS BIGINT)
           AS b_cnt,
         CAST(count(*) FILTER (WHERE abs(a.zv - b.zv) < 0.2
                                 AND abs(a.zv1 - b.zv1) < 0.2) AS BIGINT)
           AS a_cnt
  FROM z2 a JOIN z2 b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
   AND a.i <= a.n - 1 AND b.i <= b.n - 1
  GROUP BY a.user_id, a.event_type, b.event_type
)
SELECT key, src_a, src_b, n_a, n_b, b_cnt, a_cnt,
       CASE WHEN a_cnt > 0 AND b_cnt > 0
            THEN floor(-ln(CAST(a_cnt AS DOUBLE) / b_cnt)
                       * 1000000 + 0.5) / 1000000 END AS cse
FROM prs
"""


def _q_dtw_distance(spark, sf_dir):
    """Dynamic-time-warping distance between same-user signal pairs
    (operators/dtw.dtw_pairs, Sakoe & Chiba 1978 / Berndt & Clifford
    1994): exact-int64 elastic alignment over quantized token
    sequences — the tempo-tolerant complement of crosscorr (lag-rigid)
    and cross_sampen (pattern-count).  Pairs form within each user's
    event-type set, arrays truncate to max_len BEFORE the self-join,
    and the O(L²) dp runs as a vectorized row sweep (prefix sum +
    running min per row) in ONE mapInArrow boundary.  Because every
    dp cell is integer, the oracle replays the dp EXACTLY: the row
    recurrence unrolls into max_len chained window-function CTEs via
    the entry-point identity
    dp[i][j] = S[j] + min_{k<=j}(min(dp[i-1][k], dp[i-1][k-1]) - S[k-1])."""
    from eristropy_spark.operators.dtw import dtw_pairs

    tokens = events_to_tokens(_utc(spark), sf_dir).withColumn(
        "user", F.substring_index("doc_id", ":", 1)
    )
    r = dtw_pairs(
        tokens, key_col="user", label_col="source", array_col="tokens",
        max_len=24,
    )
    return r.select(
        "key", "src_a", "src_b", "n_a", "n_b", "dtw",
        _r6("dtw_norm").alias("dtw_norm"),
    )


def _oracle_dtw(max_len: int = 24, big: int = 1 << 40) -> str:
    """Generated full DuckDB replay of dtw_pairs: the dp row
    recurrence unrolled into ``max_len`` chained CTEs, each one prefix
    sum + running min over the previous row (same min-plus identity as
    the kernel; exact BIGINT arithmetic, so value-hash-identical)."""
    parts = [
        """
WITH seq AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_full
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type, tok, i,
         CAST(least(n_full, %d) AS INT) AS n
  FROM seq WHERE i <= %d
), grid AS MATERIALIZED (
  SELECT a.user_id AS key, a.event_type AS src_a, b.event_type AS src_b,
         a.i AS i, b.i AS j, abs(a.tok - b.tok) AS c,
         a.n AS n_a, b.n AS n_b
  FROM s a JOIN s b ON b.user_id = a.user_id
                   AND a.event_type < b.event_type
), r1 AS MATERIALIZED (
  SELECT key, src_a, src_b, j, n_a, n_b,
         sum(c) OVER (PARTITION BY key, src_a, src_b ORDER BY j) AS dp
  FROM grid WHERE i = 1
)"""
        % (max_len, max_len)
    ]
    for step in range(2, max_len + 1):
        parts.append(
            """, r%d AS MATERIALIZED (
  SELECT key, src_a, src_b, j, n_a, n_b,
         S + min(g) OVER (PARTITION BY key, src_a, src_b ORDER BY j) AS dp
  FROM (
    SELECT g.key, g.src_a, g.src_b, g.j, g.n_a, g.n_b,
           sum(g.c) OVER w AS S,
           least(p.dp, coalesce(lag(p.dp) OVER w, %d))
             - (sum(g.c) OVER w - g.c) AS g
    FROM grid g JOIN r%d p
      ON p.key = g.key AND p.src_a = g.src_a AND p.src_b = g.src_b
     AND p.j = g.j
    WHERE g.i = %d
    WINDOW w AS (PARTITION BY g.key, g.src_a, g.src_b ORDER BY g.j)
  ) t
)"""
            % (step, big, step - 1, step)
        )
    answers = " UNION ALL ".join(
        "SELECT key, src_a, src_b, n_a, n_b, dp FROM r%d "
        "WHERE n_a = %d AND j = n_b" % (step, step)
        for step in range(1, max_len + 1)
    )
    parts.append(
        """
SELECT CAST(key AS VARCHAR) AS key, src_a, src_b, n_a, n_b,
       CAST(dp AS BIGINT) AS dtw,
       floor(CAST(dp AS DOUBLE) / (n_a + n_b) * 1000000 + 0.5)
         / 1000000 AS dtw_norm
FROM (%s)"""
        % answers
    )
    return "".join(parts)


def _q_seq_align(spark, sf_dir):
    """Token-level edit distance + LCS length between same-user signal
    pairs (operators/seqalign.align_pairs, Levenshtein 1966 / Wagner &
    Fischer 1974): the token-IDENTITY member of the pair family —
    DTW charges value gaps, edit/LCS charge insert/delete/substitute
    events.  Same scale shape as dtw_distance (truncate-before-join,
    ONE mapInArrow dp sweep); both dp tables are pure int64 counts, so
    the oracle unrolls BOTH recurrences into chained window-function
    CTEs (edit: j + min(i, runmin(min(prev+1, prev_diag+sub) - k));
    lcs: runmax(max(prev, prev_diag + eq))) and joins their answer
    rows — exact end-to-end."""
    from eristropy_spark.operators.seqalign import align_pairs

    tokens = events_to_tokens(_utc(spark), sf_dir).withColumn(
        "user", F.substring_index("doc_id", ":", 1)
    )
    r = align_pairs(
        tokens, key_col="user", label_col="source", array_col="tokens",
        max_len=24,
    )
    return r.select(
        "key", "src_a", "src_b", "n_a", "n_b", "edit_dist", "lcs_len",
        _r6("edit_sim").alias("edit_sim"),
    )


def _oracle_seq_align(max_len: int = 24) -> str:
    """Generated full DuckDB replay of align_pairs: BOTH dp
    recurrences (Levenshtein + LCS) unrolled into ``max_len`` chained
    window-function CTEs over one shared cost grid, answer rows
    joined per pair (exact BIGINT arithmetic throughout)."""
    pk = "PARTITION BY key, src_a, src_b"
    gpk = "PARTITION BY g.key, g.src_a, g.src_b"
    parts = [
        """
WITH seq AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS tok,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_full
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type, tok, i,
         CAST(least(n_full, %d) AS INT) AS n
  FROM seq WHERE i <= %d
), grid AS MATERIALIZED (
  SELECT a.user_id AS key, a.event_type AS src_a, b.event_type AS src_b,
         a.i AS i, b.i AS j,
         CAST(a.tok <> b.tok AS BIGINT) AS sub,
         CAST(a.tok = b.tok AS BIGINT) AS eq,
         a.n AS n_a, b.n AS n_b
  FROM s a JOIN s b ON b.user_id = a.user_id
                   AND a.event_type < b.event_type
), e0 AS MATERIALIZED (
  SELECT key, src_a, src_b, j, n_a, n_b, CAST(j AS BIGINT) AS dp
  FROM grid WHERE i = 1
), l0 AS MATERIALIZED (
  SELECT key, src_a, src_b, j, n_a, n_b, CAST(0 AS BIGINT) AS dp
  FROM grid WHERE i = 1
)"""
        % (max_len, max_len)
    ]
    for step in range(1, max_len + 1):
        parts.append(
            """, e%d AS MATERIALIZED (
  SELECT key, src_a, src_b, j, n_a, n_b,
         j + least(min(g) OVER (%s ORDER BY j), %d) AS dp
  FROM (
    SELECT g.key, g.src_a, g.src_b, g.j, g.n_a, g.n_b,
           least(p.dp + 1,
                 coalesce(lag(p.dp) OVER w, %d) + g.sub) - g.j AS g
    FROM grid g JOIN e%d p
      ON p.key = g.key AND p.src_a = g.src_a AND p.src_b = g.src_b
     AND p.j = g.j
    WHERE g.i = %d
    WINDOW w AS (%s ORDER BY g.j)
  ) t
), l%d AS MATERIALIZED (
  SELECT key, src_a, src_b, j, n_a, n_b,
         max(g) OVER (%s ORDER BY j) AS dp
  FROM (
    SELECT g.key, g.src_a, g.src_b, g.j, g.n_a, g.n_b,
           greatest(p.dp, coalesce(lag(p.dp) OVER w, 0) + g.eq) AS g
    FROM grid g JOIN l%d p
      ON p.key = g.key AND p.src_a = g.src_a AND p.src_b = g.src_b
     AND p.j = g.j
    WHERE g.i = %d
    WINDOW w AS (%s ORDER BY g.j)
  ) t
)"""
            % (
                step, pk, step, step - 1, step - 1, step, gpk,
                step, pk, step - 1, step, gpk,
            )
        )
    ans_e = " UNION ALL ".join(
        "SELECT key, src_a, src_b, n_a, n_b, dp FROM e%d "
        "WHERE n_a = %d AND j = n_b" % (step, step)
        for step in range(1, max_len + 1)
    )
    ans_l = " UNION ALL ".join(
        "SELECT key, src_a, src_b, dp FROM l%d "
        "WHERE n_a = %d AND j = n_b" % (step, step)
        for step in range(1, max_len + 1)
    )
    parts.append(
        """
, ae AS (%s), al AS (%s)
SELECT CAST(ae.key AS VARCHAR) AS key, ae.src_a, ae.src_b,
       ae.n_a, ae.n_b,
       CAST(ae.dp AS BIGINT) AS edit_dist,
       CAST(al.dp AS BIGINT) AS lcs_len,
       floor((1.0 - CAST(ae.dp AS DOUBLE) / greatest(ae.n_a, ae.n_b))
             * 1000000 + 0.5) / 1000000 AS edit_sim
FROM ae JOIN al ON al.key = ae.key AND al.src_a = ae.src_a
               AND al.src_b = ae.src_b"""
        % (ans_e, ans_l)
    )
    return "".join(parts)


def _q_forecast_eval(spark, sf_dir):
    """Forecast-baseline backtest per signal (operators/backtest
    .backtest_baselines, Hyndman & Koehler 2006 MASE): in-sample
    one-step errors of the naive / expanding-mean / drift forecasters
    and their scale-free MASE skill scores — the forecastability
    triage next to ewma/holt/ar2.  Values are fed 100x-quantized so
    the expanding prefix sum is integer-exact in double; |e| and e²
    quantize to 12/6-dp DECIMAL(38,0) exact sums (partition-order-free
    by construction), every output ONE mirrored float expression."""
    from eristropy_spark.operators.backtest import backtest_baselines

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).alias("q"),
    )
    r = backtest_baselines(
        ev, key=["user_id", "event_type"], ts_col="ts", value_col="q",
        tiebreak_col="event_id",
    )
    return r.select(
        "user_id",
        "event_type",
        "n",
        _r6("mae_naive").alias("mae_naive"),
        _r6("rmse_naive").alias("rmse_naive"),
        _r6("mae_mean").alias("mae_mean"),
        _r6("mae_drift").alias("mae_drift"),
        _r6("mase_mean").alias("mase_mean"),
        _r6("mase_drift").alias("mase_drift"),
    )


_ORACLE_FORECAST_EVAL = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(round(value * 100) AS DOUBLE) AS y
  FROM events
), pts AS (
  SELECT user_id, event_type, y,
         row_number() OVER w AS t,
         lag(y) OVER w AS prev,
         sum(y) OVER (PARTITION BY user_id, event_type
                      ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS s,
         first_value(y) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS y1
  FROM seq
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), errs AS (
  SELECT user_id, event_type,
         CAST(floor(abs(y - prev) * 1e12 + 0.5) AS HUGEINT) AS qn,
         CAST(floor((y - prev) * (y - prev) * 1e6 + 0.5) AS HUGEINT)
           AS qn2,
         CAST(floor(abs(y - s / (t - 1)) * 1e12 + 0.5) AS HUGEINT) AS qm,
         CASE WHEN t >= 3 THEN
           CAST(floor(abs(y - (prev + (prev - y1) / (t - 2)))
                      * 1e12 + 0.5) AS HUGEINT)
         END AS qd
  FROM pts
), agg AS (
  SELECT user_id, event_type,
         CAST(count(*) AS INT) AS n,
         sum(qn) AS sn, count(qn) AS cn, sum(qn2) AS sn2,
         sum(qm) AS sm, count(qm) AS cm,
         sum(qd) AS sd, count(qd) AS cd
  FROM errs GROUP BY user_id, event_type
), vals AS (
  SELECT user_id, event_type, n,
         CAST(sn AS DOUBLE) / 1e12 / cn AS mae_naive,
         sqrt(CAST(sn2 AS DOUBLE) / 1e6 / cn) AS rmse_naive,
         CAST(sm AS DOUBLE) / 1e12 / cm AS mae_mean,
         CASE WHEN cd > 0 THEN CAST(sd AS DOUBLE) / 1e12 / cd END
           AS mae_drift,
         sn
  FROM agg
)
SELECT user_id, event_type, n,
       floor(mae_naive * 1000000 + 0.5) / 1000000 AS mae_naive,
       floor(rmse_naive * 1000000 + 0.5) / 1000000 AS rmse_naive,
       floor(mae_mean * 1000000 + 0.5) / 1000000 AS mae_mean,
       floor(mae_drift * 1000000 + 0.5) / 1000000 AS mae_drift,
       CASE WHEN sn > 0 THEN
         floor((mae_mean / mae_naive) * 1000000 + 0.5) / 1000000
       END AS mase_mean,
       CASE WHEN sn > 0 THEN
         floor((mae_drift / mae_naive) * 1000000 + 0.5) / 1000000
       END AS mase_drift
FROM vals
"""


def _q_binseg(spark, sf_dir):
    """Binary-segmentation multiple change-point detection, depth 2
    (operators/changepoint.binseg_changepoints, Scott & Knott 1974 /
    Killick et al. 2012): best least-squares mean-shift split per
    signal, then the best split inside each half — the multiple-CP
    extension of pettitt (single CP) and cusum (known-target chart).
    Prefix-sum identity makes each candidate's gain an exact-DECIMAL
    numerator over one mirrored float division, so the argmaxes (and
    every output) replay exactly in SQL; pure codegen on ONE keyed
    Exchange (prefix frames + rank-by-gain sorts), no joins, no
    Python."""
    from eristropy_spark.operators.changepoint import binseg_changepoints

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("q"),
    )
    r = binseg_changepoints(
        ev, key=["user_id", "event_type"], ts_col="ts", value_col="q",
        tiebreak_col="event_id",
    )
    return r.select(
        "user_id",
        "event_type",
        "n",
        "k1",
        _r6("gain1").alias("gain1"),
        "k2_left",
        _r6("gain_left").alias("gain_left"),
        "k2_right",
        _r6("gain_right").alias("gain_right"),
    )


_ORACLE_BINSEG = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS q
  FROM events
), pts AS (
  SELECT user_id, event_type,
         CAST(sum(q) OVER w AS HUGEINT) AS s,
         row_number() OVER w AS k,
         count(*) OVER (PARTITION BY user_id, event_type) AS n,
         CAST(sum(q) OVER (PARTITION BY user_id, event_type) AS HUGEINT)
           AS sn
  FROM seq
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), l1a AS (
  SELECT *, CASE WHEN k < n THEN
    CAST(s * s * (n - k) + (sn - s) * (sn - s) * k AS DOUBLE)
      / (CAST(k AS DOUBLE) * (n - k)) END AS v1
  FROM pts
), l1b AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY v1 DESC NULLS LAST, k ASC) AS rn1
  FROM l1a
), l1c AS (
  SELECT *,
         max(CASE WHEN rn1 = 1 AND v1 IS NOT NULL THEN k END) OVER p AS k1,
         max(CASE WHEN rn1 = 1 AND v1 IS NOT NULL THEN v1 END) OVER p
           AS v1max
  FROM l1b
  WINDOW p AS (PARTITION BY user_id, event_type)
), l1d AS (
  SELECT *, max(CASE WHEN k = k1 THEN s END) OVER p AS sk1
  FROM l1c
  WINDOW p AS (PARTITION BY user_id, event_type)
), l2a AS (
  SELECT *,
         CASE WHEN k < k1 THEN
           CAST(s * s * (k1 - k) + (sk1 - s) * (sk1 - s) * k AS DOUBLE)
             / (CAST(k AS DOUBLE) * (k1 - k)) END AS vl,
         CASE WHEN k > k1 AND k < n THEN
           CAST((s - sk1) * (s - sk1) * (n - k)
                + (sn - s) * (sn - s) * (k - k1) AS DOUBLE)
             / (CAST(k - k1 AS DOUBLE) * (n - k)) END AS vr
  FROM l1d
), l2b AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY vl DESC NULLS LAST, k ASC) AS rnl,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY vr DESC NULLS LAST, k ASC) AS rnr
  FROM l2a
), l2c AS (
  SELECT *,
         max(CASE WHEN rnl = 1 AND vl IS NOT NULL THEN k END) OVER p
           AS k2l,
         max(CASE WHEN rnl = 1 AND vl IS NOT NULL THEN vl END) OVER p
           AS vlmax,
         max(CASE WHEN rnr = 1 AND vr IS NOT NULL THEN k END) OVER p
           AS k2r,
         max(CASE WHEN rnr = 1 AND vr IS NOT NULL THEN vr END) OVER p
           AS vrmax
  FROM l2b
  WINDOW p AS (PARTITION BY user_id, event_type)
), fin AS (
  SELECT user_id, event_type,
         CAST(max(n) AS INT) AS n,
         CAST(max(k1) AS INT) AS k1,
         max(v1max - CAST(sn * sn AS DOUBLE) / n) AS g1,
         CAST(max(k2l) AS INT) AS k2_left,
         max(vlmax - CAST(sk1 * sk1 AS DOUBLE) / k1) AS gl,
         CAST(max(k2r) AS INT) AS k2_right,
         max(vrmax - CAST((sn - sk1) * (sn - sk1) AS DOUBLE) / (n - k1))
           AS gr
  FROM l2c GROUP BY user_id, event_type
)
SELECT user_id, event_type, n, k1,
       floor(g1 * 1000000 + 0.5) / 1000000 AS gain1,
       k2_left,
       floor(gl * 1000000 + 0.5) / 1000000 AS gain_left,
       k2_right,
       floor(gr * 1000000 + 0.5) / 1000000 AS gain_right
FROM fin
"""


def _q_kalman_level(spark, sf_dir):
    """Local-level Kalman filter per user stream (operators/smoothing
    .kalman_level, Kalman 1960 / Durbin & Koopman §2): time-varying
    gain recursion as the ewma/holt-class grouped-Pandas sequential
    scan; literal double expressions in fixed order so the
    recursive-CTE oracle replays every state bit-for-bit."""
    from eristropy_spark.operators.smoothing import kalman_level

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    r = kalman_level(
        ev, key="user_id", ts_col="ts", value_col="value",
        q=0.1, r=1.0, tiebreak_col="event_id",
    )
    return r.select(
        "user_id",
        "event_id",
        _r6("xhat").alias("xhat"),
        _r6("pvar").alias("pvar"),
        _r6("kgain").alias("kgain"),
        _r6("resid").alias("resid"),
    )


_ORACLE_KALMAN = """
WITH RECURSIVE pts AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
), rec AS (
  SELECT user_id, event_id, i,
         value AS xhat,
         CAST(1.0 AS DOUBLE) AS pvar,
         CAST(NULL AS DOUBLE) AS kgain,
         CAST(NULL AS DOUBLE) AS resid
  FROM pts WHERE i = 1
  UNION ALL
  SELECT p.user_id, p.event_id, p.i,
         r.xhat + ((r.pvar + 0.1) / ((r.pvar + 0.1) + 1.0))
                  * (p.value - r.xhat) AS xhat,
         (1.0 - ((r.pvar + 0.1) / ((r.pvar + 0.1) + 1.0)))
           * (r.pvar + 0.1) AS pvar,
         (r.pvar + 0.1) / ((r.pvar + 0.1) + 1.0) AS kgain,
         p.value - r.xhat AS resid
  FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.i = r.i + 1
)
SELECT user_id, event_id,
       floor(xhat * 1000000.0 + 0.5) / 1000000.0 AS xhat,
       floor(pvar * 1000000.0 + 0.5) / 1000000.0 AS pvar,
       floor(kgain * 1000000.0 + 0.5) / 1000000.0 AS kgain,
       floor(resid * 1000000.0 + 0.5) / 1000000.0 AS resid
FROM rec
"""


_BPE_MERGES = 6


def _q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (operators/bpe.train_bpe, Sennrich et
    al. 2016): 6 merge rounds over the distinct-word table — pair
    counts are map-side-combined aggregates, the argmax a 1-row
    TakeOrdered, the rewrite a pure-codegen sequential fold.  The
    oracle replays every round with a per-word recursive-CTE walk
    (generated SQL, one block per round)."""
    from eristropy_spark.operators.bpe import train_bpe

    return train_bpe(_docs(spark, sf_dir), n_merges=_BPE_MERGES)


def _q_bpe_encode(spark, sf_dir):
    """BPE encoding of the corpus with its own learned merges
    (operators/bpe.encode_bpe): per-word restart from characters, the
    merge schedule unrolled into nested folds, all in-row.  The
    value-hashed ``tok_str`` pins the exact token stream; the oracle
    reuses the training chain's final word symbols (training rewrite ≡
    encode on the training corpus) joined back to document word
    order."""
    from eristropy_spark.operators.bpe import encode_bpe, train_bpe

    docs = _docs(spark, sf_dir)
    # keep the training chain's final word table: its rewrite is
    # exactly the encode fold on the training corpus (the equivalence
    # the oracle replays), so encode skips refolding every distinct
    # word through the |merges|-deep interpreted chain
    mdf, words = train_bpe(docs, n_merges=_BPE_MERGES, return_words=True)
    merges = [(r["lhs"], r["rhs"]) for r in mdf.collect()]
    enc = encode_bpe(docs, merges, words_syms=words)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.concat_ws(" ", "tokens").alias("tok_str"),
    )


def _bpe_chain_sql(k: int) -> str:
    """The shared w0..w{k} training chain: w0 = char symbols + marker
    per distinct word; each round = pair count -> deterministic argmax
    -> per-word recursive-CTE merge walk (left-to-right non-overlap,
    same replay pattern as the LZ76 parse oracle)."""
    parts = [
        """
WITH RECURSIVE w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         list_append(list_transform(generate_series(1, length(word)),
                     i -> substr(word, i, 1)), '</w>') AS syms
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)"""
    ]
    for r in range(k):
        parts.append(
            f""", p{r} AS MATERIALIZED (
  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, unnest(syms[1:len(syms)-1]) AS a,
               unnest(syms[2:len(syms)]) AS b
        FROM w{r} WHERE len(syms) >= 2)
  GROUP BY a, b
), pick{r} AS MATERIALIZED (
  SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1
), sym{r} AS MATERIALIZED (
  SELECT word, unnest(syms) AS cur,
         unnest(list_concat(syms[2:len(syms)], [CAST(NULL AS VARCHAR)]))
           AS nxt,
         unnest(generate_series(1, len(syms))) AS p
  FROM w{r}
), walk{r} AS (
  SELECT word, cnt, 1 AS p, 0 AS op, CAST(NULL AS VARCHAR) AS sym,
         len(syms) AS ln
  FROM w{r}
  UNION ALL
  SELECT t.word, t.cnt,
         CASE WHEN s.cur = pk.a AND s.nxt = pk.b
              THEN t.p + 2 ELSE t.p + 1 END,
         t.op + 1,
         CASE WHEN s.cur = pk.a AND s.nxt = pk.b
              THEN pk.a || pk.b ELSE s.cur END,
         t.ln
  FROM walk{r} t JOIN sym{r} s ON s.word = t.word AND s.p = t.p
  CROSS JOIN pick{r} pk
  WHERE t.p <= t.ln
), w{r + 1} AS MATERIALIZED (
  SELECT word, cnt, list(sym ORDER BY op) AS syms
  FROM walk{r} WHERE sym IS NOT NULL GROUP BY word, cnt
)"""
        )
    return "".join(parts)


def _make_bpe_merges_oracle(k: int) -> str:
    sels = [
        f'SELECT {r} AS "rank", a AS lhs, b AS rhs, a || b AS merged,'
        f" c AS pair_count FROM pick{r}"
        for r in range(k)
    ]
    return _bpe_chain_sql(k) + "\n" + "\nUNION ALL\n".join(sels)


def _make_bpe_encode_oracle(k: int) -> str:
    return (
        _bpe_chain_sql(k)
        + f""", docw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS wi
  FROM documents
), flat AS (
  SELECT d.doc_id, d.wi,
         unnest(w.syms) AS tok,
         unnest(generate_series(1, len(w.syms))) AS si
  FROM docw d JOIN w{k} w USING (word)
  WHERE d.word <> ''
), per AS (
  SELECT doc_id,
         CAST(count(DISTINCT wi) AS INT) AS n_words,
         CAST(count(*) AS INT) AS n_tokens,
         string_agg(tok, ' ' ORDER BY wi, si) AS tok_str
  FROM flat GROUP BY doc_id
)
SELECT doc.doc_id,
       coalesce(per.n_words, 0) AS n_words,
       coalesce(per.n_tokens, 0) AS n_tokens,
       coalesce(per.tok_str, '') AS tok_str
FROM (SELECT doc_id FROM documents) doc LEFT JOIN per USING (doc_id)"""
    )


_ORACLE_BPE_MERGES = _make_bpe_merges_oracle(_BPE_MERGES)
_ORACLE_BPE_ENCODE = _make_bpe_encode_oracle(_BPE_MERGES)


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _q_profile_columns(spark, sf_dir):
    """Column-profiling census over documents (operators/profile
    .profile_columns): per column (n_rows, n_nonnull, n_distinct,
    min/max as strings) in ONE aggregate pass — every statistic is an
    expression in a single agg, the 1-row wide result unpivoted in-row
    with stack().  exact=True here (verification scale); the 100 TB
    path swaps count_distinct for HLL++ approx_count_distinct to avoid
    the multi-distinct Expand blow-up."""
    from eristropy_spark.operators.profile import profile_columns

    return profile_columns(_docs(spark, sf_dir), _PROFILE_COLS, exact=True)


_ORACLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
       count({c}) AS n_nonnull, count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_str,
       CAST(max({c}) AS VARCHAR) AS max_str
FROM documents"""
    for c in _PROFILE_COLS
)


def _q_rsi_macd(spark, sf_dir):
    """Wilder RSI(14) + MACD(12,26,9) per user (operators/momentum.
    rsi_macd): the EMA-recursion family next to ewma/holt — one
    grouped-Pandas sequential scan, one key shuffle.  Values are fed
    100x-quantized (integer-valued doubles) so every EMA / Wilder
    state is the same IEEE double op sequence the oracle's recursive
    CTE evaluates — bit-identical before the 6dp output rounding."""
    from eristropy_spark.operators.momentum import rsi_macd

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("int").cast("double").alias("value"),
    )
    r = rsi_macd(ev, "user_id", tiebreak_col="event_id")
    return r.select(
        "event_id",
        "user_id",
        _r6("macd").alias("macd"),
        _r6("macd_signal").alias("macd_signal"),
        _r6("macd_hist").alias("macd_hist"),
        _r6("rsi").alias("rsi"),
    )


_ORACLE_RSI_MACD = """
WITH RECURSIVE pts AS (
  SELECT user_id, event_id,
         CAST(CAST(round(value * 100) AS INT) AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
), rec AS (
  SELECT user_id, event_id, i, v,
         v AS ef, v AS es, CAST(0.0 AS DOUBLE) AS sg,
         CAST(0.0 AS DOUBLE) AS seedg, CAST(0.0 AS DOUBLE) AS seedl,
         CAST(NULL AS DOUBLE) AS ag, CAST(NULL AS DOUBLE) AS al
  FROM pts WHERE i = 1
  UNION ALL
  SELECT user_id, event_id, i, v, ef, es,
         (1.0 - 2.0/10.0) * psg + (2.0/10.0) * (ef - es) AS sg,
         CASE WHEN i <= 14 THEN pseedg + g ELSE pseedg END AS seedg,
         CASE WHEN i <= 14 THEN pseedl + l ELSE pseedl END AS seedl,
         CASE WHEN i <= 14 THEN CAST(NULL AS DOUBLE)
              WHEN i = 15 THEN (pseedg + g) / 14.0
              ELSE (pag * 13.0 + g) / 14.0 END AS ag,
         CASE WHEN i <= 14 THEN CAST(NULL AS DOUBLE)
              WHEN i = 15 THEN (pseedl + l) / 14.0
              ELSE (pal * 13.0 + l) / 14.0 END AS al
  FROM (
    SELECT p.user_id, p.event_id, p.i, p.v,
           (1.0 - 2.0/13.0) * r.ef + (2.0/13.0) * p.v AS ef,
           (1.0 - 2.0/27.0) * r.es + (2.0/27.0) * p.v AS es,
           r.sg AS psg, r.seedg AS pseedg, r.seedl AS pseedl,
           r.ag AS pag, r.al AS pal,
           CASE WHEN p.v - r.v > 0.0 THEN p.v - r.v ELSE 0.0 END AS g,
           CASE WHEN p.v - r.v < 0.0 THEN r.v - p.v ELSE 0.0 END AS l
    FROM rec r JOIN pts p ON p.user_id = r.user_id AND p.i = r.i + 1
  )
)
SELECT user_id, event_id,
       floor((ef - es) * 1000000.0 + 0.5) / 1000000.0 AS macd,
       floor(sg * 1000000.0 + 0.5) / 1000000.0 AS macd_signal,
       floor((ef - es - sg) * 1000000.0 + 0.5) / 1000000.0 AS macd_hist,
       CASE WHEN ag IS NULL THEN NULL
            WHEN al = 0.0 THEN (CASE WHEN ag > 0.0 THEN 100.0 ELSE 50.0 END)
            ELSE floor((100.0 - 100.0 / (1.0 + ag / al)) * 1000000.0 + 0.5)
                 / 1000000.0 END AS rsi
FROM rec
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tokenize": _q_tokenize,
        "difference": _q_difference,
        "detrend_linreg": _q_detrend_linreg,
        "znorm": _q_znorm,
        "rollup_minute": _q_rollup_minute,
        "rollup_hour_cascade": _q_rollup_hour_cascade,
        "gapfill_locf": _q_gapfill_locf,
        "gapfill_linear": _q_gapfill_linear,
        "gorilla_roundtrip": _q_gorilla_roundtrip,
        "sampen_permen": _q_sampen,
        "sampen_eff": _q_sampen_eff,
        "stationarity": _q_stationarity,
        "windowed_entropy": _q_windowed_entropy,
        "dedup_exact": _q_dedup_exact,
        "text_stats": _q_text_stats,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "gopher_filters": _q_gopher_filters,
        "c4_clean": _q_c4_clean,
        "ngram_repetition": _q_ngram_repetition,
        "chunk_text": _q_chunk_text,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_lsh": _q_minhash_lsh,
        "simhash": _q_simhash,
        "similarity_topk": _q_similarity_topk,
        "similarity_lsh": _q_similarity_lsh,
        "similarity_ivf": _q_similarity_ivf,
        "embed_dedup_exact": _q_embed_dedup_exact,
        "embed_dedup_lsh": _q_embed_dedup_lsh,
        "multimodal_features": _q_multimodal,
        "multimodal_real": _q_multimodal_real,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        "semi_join": _q_semi_join,
        "cube_rollup": _q_cube_rollup,
        "asof_join": _q_asof_join,
        "sessionize": _q_sessionize,
        "interval_join": _q_interval_join,
        "rolling_stats": _q_rolling_stats,
        "expanding_zscore": _q_expanding_zscore,
        "apen": _q_apen,
        "fuzzyen": _q_fuzzyen,
        "wavelet_entropy": _q_wavelet_entropy,
        "spectral_entropy": _q_spectral_entropy,
        "hampel": _q_hampel,
        "gpd_tail": _q_gpd_tail,
        "gumbel": _q_gumbel,
        "extremal_index": _q_extremal_index,
        "bubble_entropy": _q_bubble,
        "hurst": _q_hurst,
        "rolling_quantile": _q_rolling_quantile,
        "theilsen_trend": _q_theilsen,
        "holt": _q_holt,
        "croston": _q_croston,
        "ar2_forecast": _q_ar2,
        "pacf": _q_pacf,
        "pmi_collocations": _q_pmi,
        "corpus_divergence": _q_corpus_divergence,
        "counter_rate": _q_counter_rate,
        "sax_symbols": _q_sax,
        "ewma": _q_ewma,
        "cusum": _q_cusum,
        "seasonal_decompose": _q_seasonal_decompose,
        "anomaly_episodes": _q_anomaly_episodes,
        "bm25_topk": _q_bm25,
        "crosscorr": _q_crosscorr,
        "dominant_period": _q_dominant_period,
        "ohlc_rollup": _q_ohlc_rollup,
        "histogram_rollup": _q_histogram_rollup,
        "acf": _q_acf,
        "percentile_rollup": _q_percentile_rollup,
        "cardinality_rollup": _q_cardinality_rollup,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_clusters_lsh": _q_dedup_clusters_lsh,
        "tfidf_topk": _q_tfidf_topk,
        "md5_sample": _q_md5_sample,
        "decontaminate": _q_decontaminate,
        "scrub_pii": _q_scrub_pii,
        "md5_split": _q_md5_split,
        "pack_sequences": _q_pack_sequences,
        "mix_corpus": _q_mix_corpus,
        "build_vocab": _q_build_vocab,
        "shuffle_corpus": _q_shuffle_corpus,
        "unigram_logprob": _q_unigram_logprob,
        "ccnet_buckets": _q_ccnet_buckets,
        "fingerprint_winnow": _q_fingerprint_winnow,
        "fingerprint_overlap": _q_fingerprint_overlap,
        "duplicate_spans": _q_duplicate_spans,
        "mann_kendall": _q_mann_kendall,
        "seasonal_mk": _q_seasonal_mk,
        "pettitt": _q_pettitt,
        "renyi_entropy": _q_renyi_entropy,
        "m4_downsample": _q_m4_downsample,
        "max_drawdown": _q_max_drawdown,
        "zipf_fit": _q_zipf_fit,
        "ks_drift": _q_ks_drift,
        "wasserstein_drift": _q_wasserstein,
        "cvm_drift": _q_cvm_drift,
        "quantile_drift": _q_quantile_drift,
        "categorical_drift": _q_categorical_drift,
        "dtw_distance": _q_dtw_distance,
        "seq_align": _q_seq_align,
        "forecast_eval": _q_forecast_eval,
        "binseg": _q_binseg,
        "robust_scale": _q_robust_scale,
        "lexical_richness": _q_lexical_richness,
        "vocab_coverage": _q_vocab_coverage,
        "token_novelty": _q_token_novelty,
        "stl_strength": _q_stl_strength,
        "heaps_law": _q_heaps_law,
        "psi_drift": _q_psi_drift,
        "hill_tail": _q_hill_tail,
        "cvar_tail": _q_cvar_tail,
        "gini_balance": _q_gini_balance,
        "theil": _q_theil,
        "normality": _q_normality,
        "benford": _q_benford,
        "ljung_box": _q_ljung_box,
        "bartels_rank": _q_bartels,
        "matrix_profile": _q_matrix_profile,
        "higuchi_fd": _q_higuchi,
        "dfa": _q_dfa,
        "markov_rate": _q_markov_rate,
        "lz_complexity": _q_lz_complexity,
        "lttb": _q_lttb,
        "runs_test": _q_runs_test,
        "turning_points": _q_turning_points,
        "variance_ratio": _q_variance_ratio,
        "irreversibility": _q_irreversibility,
        "hjorth": _q_hjorth,
        "katz_fd": _q_katz_fd,
        "multiscale_entropy": _q_multiscale_entropy,
        "ts_features": _q_ts_features,
        "page_hinkley": _q_page_hinkley,
        "mutual_info": _q_mutual_info,
        "transfer_entropy": _q_transfer_entropy,
        "holt_winters": _q_holt_winters,
        "dcca": _q_dcca,
        "count_dispersion": _q_count_dispersion,
        "zero_inflation": _q_zero_inflation,
        "overdispersion": _q_overdispersion,
        "tail_dependence": _q_tail_dependence,
        "poincare": _q_poincare,
        "ordinal_census": _q_ordinal_census,
        "rqa": _q_rqa,
        "arch_lm": _q_arch_lm,
        "record_stats": _q_record_stats,
        "kpss": _q_kpss,
        "durbin_watson": _q_durbin_watson,
        "kruskal_wallis": _q_kruskal_wallis,
        "brown_forsythe": _q_brown_forsythe,
        "friedman_page": _q_friedman_page,
        "cochran_q": _q_cochran_q,
        "jonckheere": _q_jonckheere,
        "cochran_armitage": _q_cochran_armitage,
        "quade": _q_quade,
        "conover": _q_conover,
        "mood_median": _q_mood_median,
        "chi2_drift": _q_chi2_drift,
        "coint_eg": _q_coint_eg,
        "ttest_drift": _q_ttest_drift,
        "energy_drift": _q_energy_drift,
        "hodges_lehmann": _q_hodges_lehmann,
        "ad_drift": _q_ad_drift,
        "ansari_drift": _q_ansari,
        "kuiper_drift": _q_kuiper,
        "mood_scale_drift": _q_mood_scale,
        "lepage_drift": _q_lepage,
        "cucconi_drift": _q_cucconi,
        "fligner_policello": _q_fligner_policello,
        "allan_variance": _q_allan,
        "hadamard_variance": _q_hadamard,
        "kn_bigram": _q_kn_bigram,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        "cross_sampen": _q_cross_sampen,
        "kalman_level": _q_kalman_level,
        "mannwhitney": _q_mannwhitney,
        "funnel": _q_funnel,
        "retention": _q_retention,
        "burstiness": _q_burstiness,
        "ngram_containment": _q_ngram_containment,
        "stratified_sample": _q_stratified_sample,
        "granger": _q_granger,
        "spearman": _q_spearman,
        "kendall": _q_kendall,
        "wilcoxon": _q_wilcoxon,
        "kaplan_meier": _q_kaplan_meier,
        "lz_entropy_rate": _q_lz_entropy_rate,
        "ess": _q_ess,
        "profile_columns": _q_profile_columns,
        "rsi_macd": _q_rsi_macd,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tokenize": _ORACLE_TOKENIZE,
        "difference": _ORACLE_DIFFERENCE,
        "detrend_linreg": _ORACLE_DETREND,
        "znorm": _ORACLE_ZNORM,
        "rollup_minute": _ORACLE_ROLLUP_MINUTE,
        "rollup_hour_cascade": _ORACLE_ROLLUP_HOUR,
        "gapfill_locf": _ORACLE_GAPFILL_LOCF,
        "gapfill_linear": _ORACLE_GAPFILL_LINEAR,
        "gorilla_roundtrip": _ORACLE_GORILLA,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "text_stats": _ORACLE_TEXT_STATS,
        "quality_score": _ORACLE_QUALITY,
        "lang_id": _ORACLE_LANG_ID,
        "gopher_filters": _ORACLE_GOPHER,
        "c4_clean": _ORACLE_C4_CLEAN,
        "ngram_repetition": _ORACLE_NGRAM_REPETITION,
        "chunk_text": _ORACLE_CHUNK_TEXT,
        "ngram_jaccard": _ORACLE_NGRAM_JACCARD,
        "similarity_topk": _ORACLE_SIMILARITY,
        "embed_dedup_exact": _ORACLE_EMBED_DEDUP,
        # full DuckDB LSH replays: seeded hyperplanes as SQL literals
        "embed_dedup_lsh": _oracle_embed_dedup_lsh(),
        "similarity_lsh": _oracle_similarity_lsh(),
        # full DuckDB text-LSH replays: splitmix64 word/shingle hashing
        # + banding + verification in HUGEINT SQL (round 5)
        "minhash_lsh": _oracle_minhash_lsh(),
        "simhash": _oracle_simhash(),
        # real-decode multimodal row: staged WAV/Y4M containers, planted
        # geometry predicted closed-form in SQL (round 5)
        "multimodal_real": _ORACLE_MULTIMODAL_REAL,
        "tpch_q1": _ORACLE_TPCH_Q1,
        "tpch_q3": _ORACLE_TPCH_Q3,
        "semi_join": _ORACLE_SEMI_JOIN,
        "cube_rollup": _ORACLE_CUBE_ROLLUP,
        "asof_join": _ORACLE_ASOF_JOIN,
        "sessionize": _ORACLE_SESSIONIZE,
        "interval_join": _ORACLE_INTERVAL_JOIN,
        "rolling_stats": _ORACLE_ROLLING_STATS,
        "expanding_zscore": _ORACLE_EXPANDING_ZSCORE,
        "apen": _ORACLE_APEN,
        "fuzzyen": _ORACLE_FUZZYEN,
        "wavelet_entropy": _ORACLE_WAVELET,
        "spectral_entropy": _ORACLE_SPECTRAL,
        "hampel": _ORACLE_HAMPEL,
        "gpd_tail": _ORACLE_GPD_TAIL,
        "gumbel": _ORACLE_GUMBEL,
        "extremal_index": _ORACLE_EXTREMAL,
        "bubble_entropy": _ORACLE_BUBBLE,
        "hurst": _ORACLE_HURST,
        "rolling_quantile": _ORACLE_ROLLING_QUANTILE,
        "theilsen_trend": _ORACLE_THEILSEN,
        "holt": _ORACLE_HOLT,
        "croston": _ORACLE_CROSTON,
        "ar2_forecast": _ORACLE_AR2,
        "pacf": _ORACLE_PACF,
        "pmi_collocations": _ORACLE_PMI,
        "corpus_divergence": _ORACLE_CORPUS_DIVERGENCE,
        "counter_rate": _ORACLE_COUNTER_RATE,
        "sax_symbols": _ORACLE_SAX,
        "ewma": _ORACLE_EWMA,
        "cusum": _ORACLE_CUSUM,
        "seasonal_decompose": _ORACLE_SEASONAL_DECOMPOSE,
        "anomaly_episodes": _ORACLE_ANOMALY_EPISODES,
        "bm25_topk": _ORACLE_BM25,
        "crosscorr": _ORACLE_CROSSCORR,
        "dominant_period": _ORACLE_DOMINANT_PERIOD,
        "ohlc_rollup": _ORACLE_OHLC_ROLLUP,
        "histogram_rollup": _ORACLE_HISTOGRAM_ROLLUP,
        "acf": _ORACLE_ACF,
        "percentile_rollup": _ORACLE_PERCENTILE_ROLLUP,
        "cardinality_rollup": _ORACLE_CARDINALITY_ROLLUP,
        "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
        # the LSH-edged path is pinned identical to the exact path at
        # sf0.01 (tests/test_cluster.test_clusters_lsh_path_equals_exact
        # _path), so the exact-closure oracle applies verbatim
        "dedup_clusters_lsh": _ORACLE_DEDUP_CLUSTERS,
        "tfidf_topk": _ORACLE_TFIDF,
        "md5_sample": _ORACLE_MD5_SAMPLE,
        "decontaminate": _ORACLE_DECONTAMINATE,
        "scrub_pii": _oracle_scrub_pii(),
        "md5_split": _ORACLE_MD5_SPLIT,
        "pack_sequences": _ORACLE_PACK_SEQUENCES,
        "mix_corpus": _ORACLE_MIX_CORPUS,
        "build_vocab": _ORACLE_BUILD_VOCAB,
        "shuffle_corpus": _ORACLE_SHUFFLE_CORPUS,
        "unigram_logprob": _ORACLE_UNIGRAM_LOGPROB,
        "ccnet_buckets": _ORACLE_CCNET_BUCKETS,
        "fingerprint_winnow": _ORACLE_FINGERPRINT_WINNOW,
        "fingerprint_overlap": _ORACLE_FINGERPRINT_OVERLAP,
        "duplicate_spans": _ORACLE_DUPLICATE_SPANS,
        "mann_kendall": _ORACLE_MANN_KENDALL,
        "seasonal_mk": _ORACLE_SEASONAL_MK,
        "pettitt": _ORACLE_PETTITT,
        "renyi_entropy": _ORACLE_RENYI,
        "m4_downsample": _ORACLE_M4,
        "max_drawdown": _ORACLE_MAX_DRAWDOWN,
        "zipf_fit": _ORACLE_ZIPF,
        "ks_drift": _ORACLE_KS_DRIFT,
        "wasserstein_drift": _ORACLE_WASSERSTEIN,
        "cvm_drift": _ORACLE_CVM_DRIFT,
        "quantile_drift": _ORACLE_QUANTILE_DRIFT,
        "categorical_drift": _ORACLE_CATEGORICAL_DRIFT,
        "dtw_distance": _oracle_dtw(),
        "seq_align": _oracle_seq_align(),
        "forecast_eval": _ORACLE_FORECAST_EVAL,
        "binseg": _ORACLE_BINSEG,
        "robust_scale": _ORACLE_ROBUST_SCALE,
        "lexical_richness": _ORACLE_LEXICAL_RICHNESS,
        "vocab_coverage": _ORACLE_VOCAB_COVERAGE,
        "token_novelty": _ORACLE_TOKEN_NOVELTY,
        "stl_strength": _ORACLE_STL_STRENGTH,
        "heaps_law": _ORACLE_HEAPS_LAW,
        "psi_drift": _ORACLE_PSI_DRIFT,
        "hill_tail": _ORACLE_HILL,
        "cvar_tail": _ORACLE_CVAR_TAIL,
        "gini_balance": _ORACLE_GINI_BALANCE,
        "theil": _ORACLE_THEIL,
        "normality": _ORACLE_NORMALITY,
        "benford": _benford_oracle(),
        "ljung_box": _ORACLE_LJUNG_BOX,
        "bartels_rank": _ORACLE_BARTELS,
        "matrix_profile": _ORACLE_MATRIX_PROFILE,
        "higuchi_fd": _ORACLE_HIGUCHI,
        "dfa": _ORACLE_DFA,
        "markov_rate": _ORACLE_MARKOV_RATE,
        "lz_complexity": _ORACLE_LZ,
        "lttb": _ORACLE_LTTB,
        "runs_test": _ORACLE_RUNS,
        "turning_points": _ORACLE_TURNING,
        "variance_ratio": _ORACLE_VR,
        "irreversibility": _ORACLE_IRREV,
        "hjorth": _ORACLE_HJORTH,
        "katz_fd": _ORACLE_KATZ,
        "multiscale_entropy": _ORACLE_MSE,
        "ts_features": _ORACLE_TSFEATURES,
        "page_hinkley": _ORACLE_PAGE_HINKLEY,
        "mutual_info": _oracle_mutual_info(),
        "transfer_entropy": _oracle_transfer_entropy(),
        "holt_winters": _ORACLE_HW,
        "dcca": _ORACLE_DCCA,
        "count_dispersion": _ORACLE_DISPERSION,
        "zero_inflation": _ORACLE_ZERO_INFLATION,
        "overdispersion": _ORACLE_OVERDISPERSION,
        "tail_dependence": _ORACLE_TAILDEP,
        "poincare": _ORACLE_POINCARE,
        "ordinal_census": _ORACLE_ORDINAL,
        "rqa": _ORACLE_RQA,
        "arch_lm": _ORACLE_ARCH_LM,
        "record_stats": _ORACLE_RECORDS,
        "kpss": _ORACLE_KPSS,
        "durbin_watson": _ORACLE_DW,
        "kruskal_wallis": _ORACLE_KRUSKAL,
        "brown_forsythe": _ORACLE_BROWN_FORSYTHE,
        "friedman_page": _ORACLE_FRIEDMAN_PAGE,
        "cochran_q": _ORACLE_COCHRAN_Q,
        "jonckheere": _ORACLE_JONCKHEERE,
        "cochran_armitage": _ORACLE_COCHRAN_ARMITAGE,
        "quade": _ORACLE_QUADE,
        "conover": _ORACLE_CONOVER,
        "mood_median": _ORACLE_MOOD_MEDIAN,
        "chi2_drift": _ORACLE_CHI2_DRIFT,
        "coint_eg": _ORACLE_COINT,
        "ttest_drift": _ORACLE_TTEST_DRIFT,
        "energy_drift": _ORACLE_ENERGY_DRIFT,
        "hodges_lehmann": _ORACLE_HODGES_LEHMANN,
        "ad_drift": _ORACLE_AD_DRIFT,
        "ansari_drift": _ORACLE_ANSARI,
        "kuiper_drift": _ORACLE_KUIPER,
        "mood_scale_drift": _ORACLE_MOOD_SCALE,
        "lepage_drift": _ORACLE_LEPAGE,
        "cucconi_drift": _ORACLE_CUCCONI,
        "fligner_policello": _ORACLE_FLIGNER_POLICELLO,
        "allan_variance": _ORACLE_ALLAN,
        "hadamard_variance": _ORACLE_HADAMARD,
        "kn_bigram": _ORACLE_KN,
        "bpe_merges": _ORACLE_BPE_MERGES,
        "bpe_encode": _ORACLE_BPE_ENCODE,
        "cross_sampen": _ORACLE_CROSS_SAMPEN,
        "kalman_level": _ORACLE_KALMAN,
        "mannwhitney": _ORACLE_MWU,
        "funnel": _ORACLE_FUNNEL,
        "retention": _ORACLE_RETENTION,
        "burstiness": _ORACLE_BURSTINESS,
        "ngram_containment": _ORACLE_NGRAM_CONTAINMENT,
        "stratified_sample": _ORACLE_STRATIFIED,
        "granger": _ORACLE_GRANGER,
        "spearman": _ORACLE_SPEARMAN,
        "kendall": _ORACLE_KENDALL,
        "wilcoxon": _ORACLE_WILCOXON,
        "kaplan_meier": _ORACLE_KM,
        "lz_entropy_rate": _ORACLE_LZ_RATE,
        "ess": _ORACLE_ESS,
        "profile_columns": _ORACLE_PROFILE,
        "rsi_macd": _ORACLE_RSI_MACD,
        # full DuckDB entropy-kernel replays (round 5): SampEn as an
        # O(n^2) pair count over the z-normed sequence, PermEn as
        # Shannon entropy of stable-ordinal pattern codes in SQL
        "sampen_permen": _ORACLE_SAMPEN_PERMEN,
        "windowed_entropy": _ORACLE_WINDOWED_ENTROPY,
        # rows-only (non-SQL-expressible numeric kernels / iterative
        # algorithms): sampen_eff, stationarity, similarity_ivf,
        # multimodal_features — each carries a value-level golden pytest
    }
