"""Physical-plan audit: the engine's 100 TB design rules as plan budgets
(SURVEY.md §4.2, PLANS.md).

Each contract query (``__spark_entry__.queries()``) and four plans built
here from operators directly have an entry in ``budget.json``, one line
each: a cap per node kind of the EXECUTED plan.  ``plan_counts`` counts
the kinds in ``KINDS`` with one pass over the plan string; a kind a
plan's entry does not list has a cap of 0, so a new join, shuffle,
parquet scan, Python boundary, window or cached-relation read fails
the audit until the budget is raised by hand.  What the budget holds:

* the entropy projection (``compute_entropy``, ``entropy_points``) is
  ONE ``MapInArrow`` with no Exchange (zero-shuffle),
* tokenize carries exactly one hash Exchange (the group-by key),
* no plan has a ``CartesianProduct``, and the 17 plans allowed an
  ``Exchange:SinglePartition`` are listed in PLANS.md.

Three properties are not counts and stay as code (``text_checks``):
filters reach the parquet scan (``PushedFilters``), scans read only
the referenced columns (``ReadSchema``: the filtered events scan and
``pack_sequences``), and the cascade's hour tier reads the cached
minute aggregate (≥ 4 ``HashAggregate``, an ``InMemoryTableScan``, no
Python node above the ``InMemoryRelation``).

``tools/plan_audit.py`` is the CLI (it prints every plan's observed
counts as a budget line); ``tests/test_plans.py`` runs the same audit.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

from pyspark.sql import functions as F

__all__ = [
    "KINDS",
    "plan_of",
    "plan_counts",
    "load_budget",
    "over_budget",
    "budget_line",
    "budget_rows",
    "text_checks",
]

# Python-worker boundary nodes
PY_KINDS = (
    "MapInArrow",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
)

# the counted node kinds: an Exchange by its partitioning, a FileScan by
# its format, and "Window:unboundedfollowing" is the number of window
# frames with an unbounded-following edge
KINDS = (
    "Exchange:hashpartitioning",
    "Exchange:rangepartitioning",
    "Exchange:RoundRobinPartitioning",
    "Exchange:SinglePartition",
    "BroadcastExchange",
    "Scan parquet",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    *PY_KINDS,
    "Window",
    "Window:unboundedfollowing",
    "Expand",
    "Generate",
    "InMemoryTableScan",
)

BUDGET_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "budget.json")

# tree drawing and the whole-stage-codegen marker in front of a node name
_PREFIX = re.compile(r"^[ :+\-]*(?:\*\(\d+\) )?")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_counts(df) -> Counter:
    """Count of each kind in ``KINDS`` in ``df``'s executed plan (a plan
    string is accepted too).  An Exchange of a partitioning not in
    ``KINDS`` is counted under its own ``Exchange:<name>``.

    A materialized cache prints its AQE plan twice (``== Final Plan ==``
    then ``== Initial Plan ==``); only the initial copy is counted, so a
    query's counts do not depend on whether its cache was filled yet.
    """
    plan = df if isinstance(df, str) else plan_of(df)
    counts: Counter = Counter()
    skip_at = None
    for line in plan.splitlines():
        body = _PREFIX.sub("", line)
        col = len(line) - len(body)
        if skip_at is not None:
            if col == skip_at and body == "== Initial Plan ==":
                skip_at = None
            continue
        if body == "== Final Plan ==":
            skip_at = col
            continue
        name, _, rest = body.partition(" ")
        if name == "Exchange":
            name += ":" + re.split(r"[(,]", rest, maxsplit=1)[0]
        elif name == "FileScan":
            name = "Scan " + rest.partition(" ")[0]
        elif name == "Window":
            counts["Window:unboundedfollowing"] += rest.count("unboundedfollowing")
        if name in KINDS or name.startswith("Exchange:"):
            counts[name] += 1
    return +counts


def load_budget() -> dict[str, dict[str, int]]:
    with open(BUDGET_PATH) as fh:
        return json.load(fh)


def over_budget(name: str, counts: Counter, budget: dict) -> list[str]:
    """One message per kind whose count in plan ``name`` exceeds its cap."""
    if name not in budget:
        return [f"{name}: no entry in budget.json"]
    caps = budget[name]
    return [
        f"{name}: {kind} = {n}, cap {caps.get(kind, 0)}"
        for kind, n in sorted(counts.items())
        if n > caps.get(kind, 0)
    ]


def budget_line(name: str, counts: Counter) -> str:
    """``counts`` as plan ``name``'s line of budget.json, kinds in
    ``KINDS`` order."""
    order = {k: i for i, k in enumerate(KINDS)}
    kinds = sorted(counts, key=lambda k: (order.get(k, len(order)), k))
    caps = {k: counts[k] for k in kinds}
    return f"{json.dumps(name)}: {json.dumps(caps)}"


def _plans(spark, sf_dir: str):
    """Yield ``(name, df)``: every contract query, then the four plans
    built from operators directly."""
    import __spark_entry__ as entrymod

    from eristropy_spark.operators.entropy import compute_entropy
    from eristropy_spark.operators.profile import profile_columns
    from eristropy_spark.operators.retrieval import bm25_topk
    from eristropy_spark.operators.rollup import entropy_points
    from eristropy_spark.sources.tokens import synthesize_tokens

    for name, fn in entrymod.queries().items():
        yield name, fn(spark, sf_dir)

    tok = synthesize_tokens(spark, 1000, seed=1, partitions=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the operator alone, over a literal query batch (the contract
    # query adds its own 30-row vocabulary ranking)
    qdf = spark.createDataFrame(
        [(0, "the"), (0, "a"), (1, "of")], "query_id long, token string"
    )
    yield "compute_entropy", compute_entropy(tok, m=2, r=0.2, normalize=True)
    yield "entropy_points", entropy_points(tok, m=2, r=0.2)
    yield "bm25_topk(query batch)", bm25_topk(docs, qdf, k=5)
    yield "profile_columns(exact=False)", profile_columns(docs, exact=False)


def budget_rows(spark, sf_dir: str):
    """Yield ``(name, counts, problems, plan)`` for every contract query
    and the operator-level plans; ``problems`` is empty iff the plan is
    within its budget."""
    budget = load_budget()
    for name, df in _plans(spark, sf_dir):
        plan = plan_of(df)
        counts = plan_counts(plan)
        yield name, counts, over_budget(name, counts, budget), plan


def text_checks(spark, sf_dir: str) -> list[tuple[str, bool, str]]:
    """The plan properties that are not counts: ``(name, passed, plan)``."""
    import __spark_entry__ as entrymod

    from eristropy_spark.operators.rollup import cascade, entropy_points
    from eristropy_spark.sources.tokens import synthesize_tokens

    checks: list[tuple[str, bool, str]] = []

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = plan_of(ev.where(F.col("event_type") == "click").select("user_id", "value"))
    schema = p.split("ReadSchema")[1][:200]
    checks.append((
        "filter pushed to parquet scan",
        "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in p,
        p,
    ))
    checks.append((
        "scan schema pruned to referenced columns",
        bool(re.search(r"user_id.*value", schema)) and "props" not in schema,
        p,
    ))

    p = plan_of(entrymod.queries()["pack_sequences"](spark, sf_dir))
    checks.append((
        "pack_sequences: scan pruned to (doc_id, text)",
        bool(re.search(r"ReadSchema:[^\n]*doc_id[^\n]*text", p))
        and not re.search(r"ReadSchema:[^\n]*(lang|source|n_chars)", p),
        p,
    ))

    # the entropy UDF may appear inside the InMemoryRelation's cached-plan
    # description; execution must read the cache and never re-run it above
    pts = entropy_points(synthesize_tokens(spark, 1000, seed=1, partitions=8),
                         m=2, r=0.2).persist()
    pts.count()
    p = plan_of(cascade(pts)["1hour"])
    above_cache = plan_counts(p.split("InMemoryRelation")[0])
    checks.append((
        "hour tier: merges minute aggregate from cache, no UDF re-run",
        p.count("HashAggregate") >= 4
        and "InMemoryTableScan" in p
        and not any(above_cache[k] for k in PY_KINDS),
        p,
    ))
    pts.unpersist()
    return checks
