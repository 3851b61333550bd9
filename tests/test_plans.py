"""Physical-plan audit as a pytest: every contract query and the
operator-level plans stay within their checked-in node-kind budget
(eristropy_spark/plans/budget.json), and the text checks hold."""

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from eristropy_spark.plans.audit import (
    budget_rows,
    load_budget,
    over_budget,
    plan_counts,
    text_checks,
)

SF_DIR = "/root/testdata/sf0.001"


def test_all_plan_checks_pass(spark):
    budget = load_budget()
    names, problems = [], []
    for name, _counts, msgs, _plan in budget_rows(spark, SF_DIR):
        names.append(name)
        problems += msgs
    problems += [name for name, ok, _ in text_checks(spark, SF_DIR) if not ok]
    assert not problems, problems
    # every plan is budgeted once, and the budget names no plan that is gone
    assert sorted(names) == sorted(budget)
    assert all(isinstance(n, int) for caps in budget.values() for n in caps.values())


def test_budget_catches_a_join_back(spark):
    q = entrymod.queries()["kruskal_wallis"](spark, SF_DIR)
    joined = q.join(q.groupBy("k").agg(F.sum("n").alias("_n")), "k")
    msgs = over_budget("kruskal_wallis", plan_counts(joined), load_budget())
    assert msgs and all(m.startswith("kruskal_wallis: ") for m in msgs)
    assert any("Join = " in m for m in msgs), msgs


def test_budget_catches_an_extra_shuffle(spark):
    q = entrymod.queries()["acf"](spark, SF_DIR).repartition(3, "doc_id")
    msgs = over_budget("acf", plan_counts(q), load_budget())
    assert msgs == ["acf: Exchange:hashpartitioning = 2, cap 1"]


def test_plan_counts_reads_a_materialized_cache_once():
    # a filled cache prints its AQE plan twice; only the initial copy counts
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- *(2) Project [x#1]",
        "   +- InMemoryTableScan [x#1]",
        "         +- InMemoryRelation [x#1], StorageLevel(disk, memory)",
        "               +- AdaptiveSparkPlan isFinalPlan=true",
        "                  +- == Final Plan ==",
        "                     ResultQueryStage 1",
        "                     +- ShuffleQueryStage 0",
        "                        +- Exchange hashpartitioning(x#1, 4), "
        "ENSURE_REQUIREMENTS, [plan_id=7]",
        "                           +- *(1) FileScan parquet [x#1] Batched: true",
        "                  +- == Initial Plan ==",
        "                     Window [sum(x#1) windowspecdefinition(x#1, "
        "specifiedwindowframe(RowFrame, currentrow$(), unboundedfollowing$()))]",
        "                     +- Exchange hashpartitioning(x#1, 4), "
        "ENSURE_REQUIREMENTS, [plan_id=3]",
        "                        +- FileScan parquet [x#1] Batched: true",
    ])
    assert plan_counts(plan) == {
        "InMemoryTableScan": 1,
        "Window": 1,
        "Window:unboundedfollowing": 1,
        "Exchange:hashpartitioning": 1,
        "Scan parquet": 1,
    }
