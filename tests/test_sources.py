"""Token-source tests: determinism, capping, quantization; the
pinned-schema parquet reader."""

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import functions as F

from eristropy_spark.sources.catalog import read_parquet
from eristropy_spark.sources.tokens import events_to_tokens, synthesize_tokens


def _fingerprint(df):
    return df.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "tokens", "n_tok", "source")).alias("h"),
    ).collect()[0]


def test_synthesize_deterministic_across_partitioning(spark):
    a = _fingerprint(synthesize_tokens(spark, 3000, seed=42, partitions=2))
    b = _fingerprint(synthesize_tokens(spark, 3000, seed=42, partitions=64))
    assert a == b


def test_synthesize_seed_sensitivity(spark):
    a = _fingerprint(synthesize_tokens(spark, 1000, seed=42))
    b = _fingerprint(synthesize_tokens(spark, 1000, seed=43))
    assert a != b


def test_synthesize_schema_and_bounds(spark):
    df = synthesize_tokens(spark, 500, seed=1, min_len=10, max_len=20, vocab=50)
    rows = df.collect()
    assert len(rows) == 500
    for r in rows:
        assert 10 <= r["n_tok"] <= 20
        assert len(r["tokens"]) == r["n_tok"]
        assert all(0 <= t < 50 for t in r["tokens"])
        assert r["source"].startswith("src")


def test_synthesize_source_skew(spark):
    # geometric split: src0 should dominate (~half the rows)
    counts = {
        r["source"]: r["count"]
        for r in synthesize_tokens(spark, 4000, seed=42).groupBy("source").count().collect()
    }
    assert counts["src0"] > counts.get("src1", 0) > counts.get("src2", 0)


def test_events_to_tokens_cap(spark):
    full = events_to_tokens(spark, "/root/testdata/sf0.001")
    capped = events_to_tokens(spark, "/root/testdata/sf0.001", max_tokens=5)
    assert capped.agg(F.max("n_tok")).collect()[0][0] <= 5
    # capping keeps the earliest tokens: prefix equality
    f = {r["doc_id"]: r["tokens"] for r in full.collect()}
    c = {r["doc_id"]: r["tokens"] for r in capped.collect()}
    for k in c:
        assert c[k] == f[k][: len(c[k])]


# ------------------------------------------------- pinned-schema reader


def test_rewritten_table_reads_its_new_schema(spark, tmp_path):
    """A table rewritten between two reads with one column dropped and
    one retyped: the second read has the new schema and the new values,
    never the old schema's NULLs."""
    path = str(tmp_path / "spark_table")
    spark.createDataFrame([(1, "a", 10)], "k int, s string, v int").write.parquet(path)
    assert read_parquet(spark, path).collect() == [Row(k=1, s="a", v=10)]
    spark.createDataFrame([(2, "x20")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(path)
    again = read_parquet(spark, path)
    assert again.schema.simpleString() == "struct<k:int,v:string>"
    assert again.collect() == [Row(k=2, v="x20")]


def test_rewritten_single_file_reads_its_new_schema(spark, tmp_path):
    """The same for one parquet file replaced under the same name."""
    path = str(tmp_path / "table.parquet")
    pq.write_table(pa.table({"k": [1], "s": ["a"], "v": [10]}), path)
    assert read_parquet(spark, path).collect() == [Row(k=1, s="a", v=10)]
    st = os.stat(path)
    pq.write_table(pa.table({"k": [2], "v": ["x20"]}), path)
    # a coarse-mtime file system could keep the old mtime; move it on
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    again = read_parquet(spark, path)
    assert again.schema.simpleString() == "struct<k:bigint,v:string>"
    assert again.collect() == [Row(k=2, v="x20")]


def test_building_over_a_read_table_launches_no_job(spark, tmp_path):
    """The first read infers the schema with a Spark job; a query built
    over the same, unchanged table launches none."""
    path = str(tmp_path / "events")
    spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v")
    ).write.parquet(path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setJobGroup(None, None)
        return tracker.getJobIdsForGroup(group)

    group = f"pinned-read-{time.time_ns()}"
    assert len(jobs_during(group + "-first", lambda: read_parquet(spark, path))) >= 1
    built = jobs_during(
        group + "-built",
        lambda: read_parquet(spark, path)
        .where(F.col("v") > 3)
        .groupBy("k")
        .agg(F.sum("v").alias("s")),
    )
    assert built == []
