"""Scan-pruning plan pins — the two biggest 100 TB read-path levers.

* Hive-partition pruning on the compacted layout: a filter on the
  partition key must land in ``PartitionFilters`` (directories never
  listed, let alone read) — not ``PushedFilters`` (row-group level).
* Runtime bloom-filter injection on a fact-to-fact shuffle join: when
  neither side broadcasts (the 100 TB case — forced here by disabling
  auto-broadcast), Catalyst builds a bloom filter from the selective
  side and semi-filters the big scan before the shuffle.  This is the
  optimizer turning a full lineitem shuffle into a pre-filtered one —
  worth more than any manual tuning at scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from gclog_parser_spark.operators.layout import compact_table

SF = "/root/testdata/sf0.01"


def test_partition_pruning_on_compacted_layout(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = str(tmp_path / "ev_part")
    compact_table(ev, out, partition_by=["event_type"], sort_by=["ts"])

    pruned = spark.read.parquet(out).where(
        F.col("event_type") == "click"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.split("\n") if "FileScan" in l][0]
    assert "PartitionFilters: [isnotnull(event_type" in scan
    assert "= click)" in scan
    # the predicate must NOT degrade to a data filter over all files
    assert "DataFilters: []" in scan

    # and it actually reads only the one directory
    total = spark.read.parquet(out).count()
    clicks = pruned.count()
    assert 0 < clicks < total


def test_runtime_bloom_filter_on_shuffle_join(spark):
    """With broadcast off (both sides 'too big'), a selective filter
    on the orders side injects a bloom might_contain() onto the
    lineitem scan side of the shuffle join."""
    conf = spark.conf
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thresh = conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the driver testdata is tiny; at real scale the 10 GB default
        # threshold is what makes injection automatic
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt
        # and the result is unchanged by the filter (it's a pure prune)
        rows = {r["o_orderpriority"]: r["count"] for r in j.collect()}
        assert set(rows) == {"1-URGENT"}
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Both sides bucketed on the join key with equal bucket counts:
    the SortMergeJoin runs per-bucket with ZERO exchanges on either
    input — the only Exchange left in the whole plan is the tiny
    post-join aggregation.  The recurring-join layout lever (Iceberg
    bucket(N, col) transform stand-in)."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.layout import bucket_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        bucket_table(li, "li_bkt", ["l_orderkey"], 8,
                     path=str(tmp_path / "li"))
        bucket_table(orders, "ord_bkt", ["o_orderkey"], 8,
                     path=str(tmp_path / "ord"))
        j = (
            spark.table("li_bkt")
            .join(
                spark.table("ord_bkt"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 1  # the agg only
        # and bucketing changed only the plan, not the answer
        got = {r["o_orderpriority"]: r["n"] for r in j.collect()}
        want = {
            r["o_orderpriority"]: r["n"]
            for r in li.join(
                orders, li.l_orderkey == orders.o_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")
