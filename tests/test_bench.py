"""The bench's final stdout line: trim order and size bound."""

import json

import numpy as np

import bench


def _inputs(n_queries: int, n_contended: int):
    rng = np.random.default_rng(7)
    queries = {
        f"contract_query_{i:03d}_{'x' * (i % 9)}": float(t)
        for i, t in enumerate(rng.uniform(0.05, 30.0, size=n_queries))
    }
    summary = {
        "wall_sec": 5.11,
        "seq_per_sec_maxcores": 30612.4,
        "primary_median_valid_pair": 0.91,
        "n_valid_pairs": 5,
        "tiers_equal": True,
        "contended_queries": sorted(queries)[:n_contended],
    }
    head = {"metric": "entropy_rollup_pipeline_wall_sec", "value": 5.11,
            "unit": "sec", "sf": 0.1}
    return head, queries, summary


def test_final_line_fits_and_keeps_named_leaves():
    head, queries, summary = _inputs(192, 80)
    line = bench.final_line(head, queries, summary)
    rec = json.loads(line)
    assert len(line) <= bench.FINAL_LINE_CHARS
    assert len(rec["queries"]) >= bench.MIN_NAMED_QUERIES
    # the named leaves are the slowest ones, with their 2-dp timings
    slowest = sorted(queries, key=lambda n: -queries[n])[: len(rec["queries"])]
    assert rec["queries"] == {n: round(queries[n], 2) for n in slowest}
    # every timing survives in q_all; the contended list became a count
    assert rec["n_queries"] == len(rec["q_all"]) == 192
    assert rec["summary"]["n_contended"] == 80
    assert "contended_queries" not in rec["summary"]
    assert summary["contended_queries"]  # the caller's dict is untouched


def test_final_line_trim_order():
    # a line that fits is not trimmed at all
    head, queries, summary = _inputs(20, 3)
    rec = json.loads(bench.final_line(head, queries, summary))
    assert len(rec["queries"]) == 20
    assert rec["summary"]["contended_queries"] == summary["contended_queries"]
    assert rec["q_all"] == [round(queries[n], 2) for n in sorted(queries)]
    # collapsing the contended list comes before any other trim
    head, queries, summary = _inputs(40, 40)
    rec = json.loads(bench.final_line(head, queries, summary))
    assert rec["summary"]["n_contended"] == 40
    assert len(rec["queries"]) == 40
    assert rec["q_all"] == [round(queries[n], 2) for n in sorted(queries)]
