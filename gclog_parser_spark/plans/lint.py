"""Physical-plan linter: the anti-patterns that kill a plan at 100 TB,
checked mechanically so EVERY contract query's plan is gated, not just
the hand-pinned ones in tests/test_plan_quality.py.

Rules (each names the failure it prevents at scale):

* ``cartesian-product`` — a ``CartesianProduct`` node is O(|L|·|R|)
  tasks with no join key; at fact sizes it never finishes.  (A
  ``BroadcastNestedLoopJoin`` is allowed: the repo only uses it to
  attach a broadcast one-row relation — query vectors, corpus totals —
  which is a scan-side constant, not a pair explosion.)
* ``row-python`` — ``BatchEvalPython`` is the pickled row-at-a-time
  UDF path, ~10-100× slower than Arrow; ``ArrowEvalPython`` /
  ``MapInPandas`` / ``FlatMapGroupsInPandas`` are the sanctioned
  Python lanes.
* ``exchange-storm:<n>`` — more than ``MAX_EXCHANGES`` shuffles in one
  plan means some stage re-partitions data it could have reused; every
  exchange is a full write+read of the stage's data.
* ``global-sort`` — an ``Exchange rangepartitioning`` that does not
  feed a ``TakeOrderedAndProject`` is a whole-dataset sort; at 10^12
  rows that is the most expensive operator Spark has.

A caller that accepts a finding for one plan (a tiny presentation sort
the caller knows is group-sized, which a string linter cannot know, or
a documented higher exchange count) filters it out of the result.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

ARROW_OK = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapGroupsInPandas",
)


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


MAX_EXCHANGES = 12


def lint_plan(df: DataFrame) -> list[str]:
    """Findings for ``df``'s executed plan — empty list == clean."""
    plan = plan_string(df)
    findings: list[str] = []
    if "CartesianProduct" in plan:
        findings.append("cartesian-product")
    if "BatchEvalPython" in plan:
        findings.append("row-python")
    n = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    if n > MAX_EXCHANGES:
        findings.append(f"exchange-storm:{n}")
    if (
        re.search(r"Exchange rangepartitioning", plan)
        and "TakeOrderedAndProject" not in plan
    ):
        findings.append("global-sort")
    return findings
