"""Token-table sources.

The engine's canonical input (BASELINE.json input_hint) is
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``
— one row per pre-tokenized training sequence.  Three providers:

* ``load_tokens`` — read an existing token table (Iceberg table name or
  parquet path).
* ``events_to_tokens`` — derive the token table from the driver's
  ``events`` test table: signal_id = (user_id, event_type), order by
  (ts, event_id) for a deterministic sequence, value quantized to
  int32.  Pure built-in expressions (collect_list + array_sort of
  structs) — one shuffle on the group key, no Python.
* ``synthesize_tokens`` — deterministic, seed-stable synthetic table
  built entirely from ``spark.range`` + JVM-side hash expressions: no
  driver-side data, no Python UDFs, so it scales to any row count with
  full parallelism (this is how the 10^12-row scale path would
  generate/benchmark).  Source labels are Zipf-skewed on purpose to
  exercise the skew-handling path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eristropy_spark.sources.catalog import read_parquet

__all__ = ["load_tokens", "events_to_tokens", "synthesize_tokens", "TOKEN_COLUMNS"]

TOKEN_COLUMNS = ("doc_id", "tokens", "n_tok", "source")


def load_tokens(spark: SparkSession, path: str) -> DataFrame:
    """Read a token table from parquet path or Iceberg table name."""
    if "/" in path or path.endswith(".parquet"):
        return read_parquet(spark, path)
    return spark.read.table(path)


def events_to_tokens(
    spark: SparkSession,
    sf_dir: str,
    quant_scale: int = 100,
    max_tokens: int | None = None,
) -> DataFrame:
    """Token table derived from the events test table.

    One sequence per (user_id, event_type); values ordered by
    (ts, event_id) and quantized ``int32(round(value * quant_scale))``.
    Also carries ``first_ts`` (sequence start) for retention bucketing.

    ``max_tokens`` caps sequence length (keeping the earliest samples).
    SampEn is O(n²) per sequence, so at scale a cap (with windowed
    rollup for longer series) bounds worst-case task time and the
    collect_list state (SURVEY.md §7.3 hazard 9); None preserves the
    reference's uncapped semantics for parity testing.
    """
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    # explicit keyed repartition instead of the bare groupBy shuffle:
    # the REPARTITION_BY_NUM exchange already satisfies the
    # aggregation's clustering (ONE exchange either way) but is exempt
    # from AQE's size-based coalescing, which would fold the tiny-SF
    # token table to 1-2 partitions and serialize every downstream
    # per-sequence entropy UDF (the _pandas_par.keyed_parallel
    # rationale; collect_list has no map-side reduction, so nothing is
    # lost by skipping the partial aggregate).
    n = spark.sparkContext.defaultParallelism
    out = (
        ev.repartition(n, "user_id", "event_type")
        .groupBy("user_id", "event_type")
        .agg(seq.alias("seq"), F.min("ts").alias("first_ts"))
    )
    if max_tokens is not None:
        out = out.withColumn("seq", F.slice("seq", 1, max_tokens))
    return out.select(
        F.concat_ws(":", F.col("user_id"), F.col("event_type")).alias("doc_id"),
        F.transform(
            "seq",
            lambda s: F.round(s["value"] * quant_scale).cast("int"),
        ).alias("tokens"),
        F.size("seq").cast("int").alias("n_tok"),
        F.col("event_type").alias("source"),
        F.col("first_ts"),
    )


def synthesize_tokens(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    min_len: int = 64,
    max_len: int = 256,
    n_sources: int = 5,
    vocab: int = 1000,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic token table, fully distributed.

    Every value is a pure function of (seed, doc index), built from
    ``xxhash64`` — identical output for any partitioning or cluster
    size.  Length varies in [min_len, max_len]; source labels follow a
    geometric (Zipf-like) split: src0 gets ~1/2, src1 ~1/4, …
    """
    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    h = F.xxhash64(F.lit(seed), F.col("id"))
    n_tok = (F.pmod(h, F.lit(max_len - min_len + 1)) + min_len).cast("int")
    # geometric (Zipf-like) source split: src0 gets ~1/2 of rows, src1
    # ~1/4, ... — floor(log2(u+1)) over a uniform hash grows with u, so
    # invert it to make index 0 the hot source
    h2 = F.pmod(F.xxhash64(F.lit(seed + 1), F.col("id")), F.lit(2 ** n_sources))
    src_idx = F.lit(n_sources - 1) - F.least(
        F.floor(F.log2(h2 + 1)).cast("int"),
        F.lit(n_sources - 1),
    )
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.pmod(F.xxhash64(F.lit(seed + 2), F.col("id"), i), F.lit(vocab)).cast(
            "int"
        ),
    )
    return df.select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.concat(F.lit("src"), src_idx).alias("source"),
        F.timestamp_seconds(F.lit(1704067200) + F.pmod(h, F.lit(86400))).alias(
            "first_ts"
        ),
    )
