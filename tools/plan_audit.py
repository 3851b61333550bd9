"""CLI for the physical-plan audit (eristropy_spark.plans.audit).

Run: python tools/plan_audit.py [sf_dir]
Prints one line per budgeted plan with its observed node-kind counts,
in the form of a budget.json entry, and the text checks.  Exit 0 iff
every plan is within its budget and every text check passes; a failure
names the plan, the kind, the count and the cap, then dumps the
executed plan.  PLANS.md records the budget workflow.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eristropy_spark.plans.audit import (  # noqa: E402
    budget_line,
    budget_rows,
    text_checks,
)
from eristropy_spark.runtime.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cores=8)
    failed = False
    for name, counts, problems, plan in budget_rows(spark, sf_dir):
        print(("FAIL  " if problems else "PASS  ") + budget_line(name, counts) + ",")
        for msg in problems:
            print("      " + msg)
        if problems:
            failed = True
            print("---- plan ----")
            print(plan[:4000])
    for name, ok, plan in text_checks(spark, sf_dir):
        print(("PASS  " if ok else "FAIL  ") + name)
        if not ok:
            failed = True
            print("---- plan ----")
            print(plan[:4000])
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
