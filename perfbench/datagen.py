"""Seeded input tables for the benchmark workloads, written as parquet.

The query tables follow the schemas of the driver-contract test data
(``events``, ``documents``, ``lineitem``) at a reduced scale, so that a
full pass over the query set fits in one benchmark run.  Every table is
a pure function of its seed (NumPy's PCG64 stream), so the expected
consume hashes recorded for it hold on any machine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one fixed seed for the query tables: the expected hashes in
# expected/queries.json are recorded for exactly these tables
QUERY_DATA_SEED = 20240101

N_EVENTS = 20_000
N_USERS = 300
N_DOCS = 1_000
N_LINEITEM = 60_000

_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join the customer"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_query_tables(out_dir: str) -> None:
    """events / documents / lineitem parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(QUERY_DATA_SEED)

    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS)) + _T0_US
    events = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array(
                np.array(_EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
            ),
        }
    )
    _write(events, os.path.join(out_dir, "events.parquet"))

    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), n)])
        for n in rng.integers(8, 64, N_DOCS)
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), N_DOCS)]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))

    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    ship_days = rng.integers(0, 2500, n)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, n // 4, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(1, 20_000, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                (ship_days * 86_400_000_000 + 788_918_400_000_000).astype(np.int64),
                type=pa.timestamp("us"),
            ),
        }
    )
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))


def write_token_table(path: str, n_docs: int, seed: int) -> None:
    """Short-document token table (16-48 tokens, random-walk values) in the
    engine's canonical ``(doc_id, tokens, n_tok, source, first_ts)`` shape."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(16, 49, n_docs)
    steps = rng.integers(-3, 4, int(lens.sum())).astype(np.int32)
    # every fifth document is a trending walk, the rest are stationary
    # noise, so the ADF filter keeps a fraction strictly between 0 and 1
    offsets = np.concatenate([[0], np.cumsum(lens)])
    values = []
    for i in range(n_docs):
        s = steps[offsets[i] : offsets[i + 1]]
        values.append(np.cumsum(s) if i % 5 == 0 else s)
    src = np.minimum(np.floor(np.log2(rng.integers(1, 33, n_docs))).astype(int), 4)
    table = pa.table(
        {
            "doc_id": pa.array([f"doc{i}" for i in range(n_docs)]),
            "tokens": pa.array(values, type=pa.list_(pa.int32())),
            "n_tok": pa.array(lens.astype(np.int32)),
            "source": pa.array([f"src{4 - s}" for s in src]),
            "first_ts": pa.array(
                rng.integers(0, 86_400, n_docs) * 1_000_000 + _T0_US,
                type=pa.timestamp("us"),
            ),
        }
    )
    os.makedirs(path, exist_ok=True)
    _write(table, os.path.join(path, "part-00000.parquet"))
