"""Mechanical plan gate: EVERY contract query's physical plan passes
the 100 TB anti-pattern linter (plans/lint.py) — no cartesian
products, no row-at-a-time Python, no unbounded global sorts, no
exchange storms.  tests/test_plan_quality.py pins the load-bearing
plans by hand; this sweep catches regressions in the other ~130."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from gclog_parser_spark.plans.lint import MAX_EXCHANGES, lint_plan

#: reviewed exceptions — each names the rule it suppresses and why
ALLOW: dict[str, tuple[str, ...]] = {
    # orderBy(label) presentation sort on a ≤ n_labels-row aggregate
    "emb_label_stats": ("global-sort",),
    # ordered output of a k-bounded heavy-hitter set
    "text_heavy_hitters": ("global-sort",),
}

#: per-query exchange caps above MAX_EXCHANGES — each documented
CAPS: dict[str, int] = {
    # the sketch/exact/pair subtrees each re-plan the (group, hash)
    # distinct, so the node count is high, but every exchange after
    # the first distinct carries ≤ k·groups rows; the exact-overlap
    # side exists only to bound the estimate and is the part a real
    # 10^12-row deployment would drop
    "rel_kmv_intersect": 18,
    # composes the PPJoin exact-truth pipeline (the expensive audit
    # side a full-scale run only executes on a sample) with the
    # minhash banding pipeline it audits, then two count aggregates;
    # each half alone is under the default cap
    "dedup_recall": 16,
}

#: streaming queries execute real micro-batch streams inside the
#: builder (minutes each) and return a batch read of the sink — their
#: plans are covered by tests/test_streaming*.py
SKIP = tuple(
    n for n in entry_mod.queries() if n.startswith(("gc_stream", "rel_stream"))
)

QUERIES = sorted(n for n in entry_mod.queries() if n not in SKIP)


def _unexcused(name: str, findings: list[str]) -> list[str]:
    """``findings`` less the ones ALLOW and CAPS accept for ``name``."""
    out = []
    for f in findings:
        rule, _, n = f.partition(":")
        if rule in ALLOW.get(name, ()):
            continue
        if rule == "exchange-storm" and int(n) <= CAPS.get(name, 0):
            continue
        out.append(f)
    return out


@pytest.mark.parametrize("name", QUERIES)
def test_plan_is_lint_clean(spark, sf_dir, name):
    df = entry_mod.queries()[name](spark, sf_dir)
    findings = _unexcused(name, lint_plan(df))
    assert findings == [], f"{name}: {findings}"


def test_linter_actually_fires(spark):
    """The gate is only as good as the linter: prove each rule fires
    on a crafted bad plan."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import udf

    a = spark.range(10)
    b = spark.range(10)
    cart = a.crossJoin(b.hint("shuffle_replicate_nl"))
    assert "cartesian-product" in lint_plan(cart)

    slow = udf(lambda x: x + 1, "bigint")
    rowpy = a.select(slow("id").alias("y"))
    assert "row-python" in lint_plan(rowpy)

    # orderBy a derived column — a plain orderBy("id") on a Range is
    # removed by EliminateSorts (the data is already sorted)
    gsort = a.orderBy(F.col("id") % 7)
    assert "global-sort" in lint_plan(gsort)
    assert _unexcused("emb_label_stats", lint_plan(gsort)) == []

    # chained groupBys on distinct keys — adjacent repartition() calls
    # would be collapsed by CollapseRepartition
    storm = a.select("id", F.lit(1).alias("c"))
    for i in range(MAX_EXCHANGES + 1):
        storm = storm.groupBy(
            (F.col("id") % (i + 2)).alias("id")
        ).agg(F.sum("c").alias("c"))
    assert any(f.startswith("exchange-storm") for f in lint_plan(storm))
