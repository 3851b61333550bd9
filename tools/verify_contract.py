"""Drive the driver contract end-to-end, the way the round harness does.

Usage: python tools/verify_contract.py [sf_dir]

Runs entry(spark) (rows>0, stable schema), then every queries() entry
at the given sf against its oracle_sql() via DuckDB: row count, column
names, and an order-insensitive value comparison (sort by all columns,
compare cell-by-cell; doubles rounded to 6dp upstream by the queries
themselves).  Queries without an oracle get a rows-only check.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eristropy_spark.runtime.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_category(dtype) -> str:
    """Canonical dtype family, as the driver's value hash sees it.

    The driver hashes raw values type-sensitively, so an oracle column
    that materializes as a different family than the Spark column (e.g.
    DuckDB window ``sum(INTEGER)`` → HUGEINT → pandas float64, vs
    Spark's BIGINT → int64) hash-mismatches even when every value is
    equal.  The local check must therefore compare families BEFORE any
    coercion — this is the round-2/round-3 `cube_rollup`/`sessionize`
    bug class."""
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    return "object"


def dtype_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Columns whose raw dtype family differs between engine and oracle
    (compared pre-normalization; sorted-column order like the driver)."""
    out = []
    for c in sorted(set(got.columns) & set(want.columns)):
        g, w = dtype_category(got[c].dtype), dtype_category(want[c].dtype)
        if g != w:
            out.append(f"{c}: spark={got[c].dtype}({g}) oracle={want[c].dtype}({w})")
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod

    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []

    t0 = time.time()
    res = entrymod.entry(spark).collect()
    print(f"entry(): {len(res)} rows in {time.time()-t0:.1f}s")
    for row in res[:5]:
        print("   ", row)
    if len(res) < 1:
        failures.append("entry() returned 0 rows")

    qs = entrymod.queries()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: Spark query raised {exc}")
            continue
        took = time.time() - t0
        if name not in oracles:
            status = "rows-only"
            ok = len(got) >= 0
            print(f"{name}: {len(got)} rows [{status}] in {took:.1f}s")
            continue
        want = con.sql(oracles[name]).df()
        ok = True
        bad_types = dtype_mismatches(got, want)
        if bad_types:
            failures.append(f"{name}: dtype family mismatch (driver hash would differ): {bad_types}")
            ok = False
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            failures.append(f"{name}: columns {list(g.columns)} != {list(w.columns)}")
            ok = False
        elif len(g) != len(w):
            failures.append(f"{name}: rows {len(g)} != {len(w)}")
            ok = False
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            except AssertionError as exc:
                failures.append(f"{name}: value mismatch: {str(exc)[:300]}")
                ok = False
        print(f"{name}: {len(got)} rows [{'OK' if ok else 'MISMATCH'}] in {took:.1f}s")

    spark.stop()
    if failures:
        print("\nFAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("\nALL CONTRACT CHECKS PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())
