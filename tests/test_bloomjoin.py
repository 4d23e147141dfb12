"""Bloom-filter join reduction (operators/bloomjoin.py): the runtime
semi-join-pushdown pattern.  Pins the property that makes it safe (no
false negatives → bloom ∘ join ≡ join) and the plan shape that makes
it worth doing at 100 TB (probe-side Filter below the join exchange,
fixed-size sketch)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.operators.bloomjoin import (
    bloom_build,
    bloom_reduce,
)


@pytest.fixture(scope="module")
def tpc(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return li, orders


def test_no_false_negatives_join_equivalence(tpc):
    """Every row that survives the plain join survives the bloom-pruned
    join — row-for-row, not just counts."""
    li, orders = tpc
    lif = bloom_reduce(li, "l_orderkey", orders, "o_orderkey")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_linenumber")
    )
    pruned = (
        lif.join(orders, lif.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_linenumber")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, pruned.collect())
    )


def test_reduction_actually_drops_rows(tpc):
    """The point of the sketch: non-matching fact rows are dropped
    before the shuffle (urgent orders are ~1/5 of orders, so most of
    lineitem must go)."""
    li, orders = tpc
    n_all = li.count()
    n_kept = bloom_reduce(li, "l_orderkey", orders, "o_orderkey").count()
    assert n_kept < n_all * 0.6


def test_filter_sits_below_probe_exchange(tpc):
    """Plan pin: the membership test is a codegen Filter on the scan
    side of the probe — no Exchange, no Python, no extra join below
    it."""
    li, orders = tpc
    lif = bloom_reduce(li, "l_orderkey", orders, "o_orderkey")
    plan = lif._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "shiftrightunsigned" in plan
    # and the full bloom-pruned JOIN keeps the fact⋈fact merge path
    j = lif.hint("merge").join(
        orders.hint("merge"), lif.l_orderkey == orders.o_orderkey
    )
    jplan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan
    assert "BroadcastHashJoin" not in jplan


def test_sketch_state_is_bounded(tpc):
    """The bitmap is m_bits/64 words no matter the build cardinality."""
    li, orders = tpc
    words = bloom_build(orders, "o_orderkey", m_bits=1 << 12)
    assert len(words) == (1 << 12) // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)


def test_empty_build_side_filters_everything(spark, tpc):
    li, orders = tpc
    empty = orders.where(F.lit(False))
    assert bloom_reduce(li, "l_orderkey", empty, "o_orderkey").count() == 0


def test_tiny_sketch_keeps_correctness(tpc, monkeypatch):
    """Even a saturated 64-bit sketch (all-ones bitmap, 100 % FPR)
    never loses a match — it just stops pruning."""
    from gclog_parser_spark.operators import bloomjoin

    monkeypatch.setattr(bloomjoin, "M_BITS", 64)
    monkeypatch.setattr(bloomjoin, "N_HASHES", 2)
    li, orders = tpc
    lif = bloom_reduce(li, "l_orderkey", orders, "o_orderkey")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    pruned = lif.join(orders, lif.l_orderkey == orders.o_orderkey).count()
    assert plain == pruned
