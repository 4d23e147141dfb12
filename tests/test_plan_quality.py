"""Physical-plan regression tests: the properties that make the plans
survive a 100× scale-up, pinned so a refactor can't silently regress
them (SURVEY.md §4, BENCH/BASELINE.md 'why this holds at 100 TB')."""

from __future__ import annotations

import re
import threading

import pytest

from gclog_parser_spark.datagen import pages_from_documents
from gclog_parser_spark.operators.aggregate import (
    per_sink_hourly,
    per_sink_hourly_salted,
)
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.operators.route import with_sink
from gclog_parser_spark.plans.pipeline import build_events


@pytest.fixture(scope="module")
def pages(spark, sf_dir, tmp_path_factory):
    # a real parquet scan (not an in-memory plan) so pushdown is visible
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_from_documents(spark, sf_dir).write.parquet(path)
    return spark.read.parquet(path)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def n_shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_flagship_plan_single_shuffle_broadcast_pruned(pages):
    """parse → enrich → route → aggregate: ONE exchange total (the
    final agg), broadcast join for the dim, scan pruned to the three
    parse columns with the marker Contains pushed to the scan."""
    df = per_sink_hourly(with_sink(parse_events(pages, stitch="narrow")))
    plan = plan_of(df)
    assert n_shuffles(plan) == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "html" not in scan  # column pruning: binary bytes never read
    assert "Contains(text" in scan  # marker filter reached the scan
    assert "lang" not in scan


def test_narrow_parse_zero_shuffle(pages):
    """The 100 TB plan of choice: no exchange anywhere between the
    columnar scan and the event rows."""
    plan = plan_of(parse_events(pages, stitch="narrow"))
    assert n_shuffles(plan) == 0
    assert "Exchange" not in plan or "broadcast" in plan.lower()


def test_window_parse_bounded_shuffles(pages):
    """Window stitch: one exchange for the line stream (window + block
    re-assembly reuse the same hash(url) partitioning) plus one on the
    tiny post-parse events side for event_idx — never more, and never
    an exchange of the raw page text."""
    plan = plan_of(parse_events(pages, stitch="window"))
    assert n_shuffles(plan) == 2


def _broadcasts_local_table(plan: str) -> bool:
    """Every broadcast builds from a ``LocalTableScan`` and no operand
    is a Python-built RDD (``Scan ExistingRDD``)."""
    lines = plan.splitlines()
    builds = [
        lines[i + 1] for i, l in enumerate(lines) if "BroadcastExchange" in l
    ]
    return (
        bool(builds)
        and all("LocalTableScan" in b for b in builds)
        and "ExistingRDD" not in plan
    )


def test_enrich_dims_are_local_tables(pages):
    """The static dims are inline VALUES tables: broadcasting one reads
    rows already in JVM memory instead of unpickling an RDD."""
    from gclog_parser_spark.operators.enrich import explode_region_deltas
    from gclog_parser_spark.plans.pipeline import build_events

    assert _broadcasts_local_table(plan_of(build_events(pages)))
    heap = parse_events(pages, mode="heap_stats")
    assert _broadcasts_local_table(plan_of(explode_region_deltas(heap)))


_PLAN_BUILDS = {
    "build_events": build_events,
    "parse_events-window-gc_line": lambda pages: parse_events(
        pages, stitch="window"
    ),
    "parse_events-window-heap_stats": lambda pages: parse_events(
        pages, mode="heap_stats", stitch="window"
    ),
}


@pytest.mark.parametrize("case", sorted(_PLAN_BUILDS))
def test_build_events_plan_build_round_trips(spark, pages, case):
    """The per-event plan is SQL text: building a narrow
    ``build_events`` or a window-stitch ``parse_events`` costs a bounded
    number of py4j round trips to the JVM (the Column-API builds made
    ~1,100 and ~720-840)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []
    builder = threading.get_ident()

    def counting(*args, **kwargs):
        # py4j's own thread sends detach commands for collected objects
        # of earlier builds at any time
        if threading.get_ident() == builder:
            calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        _PLAN_BUILDS[case](pages)
    finally:
        del client.send_command
    assert 0 < len(calls) <= 250


_EVENT_COLUMNS = [
    ("url", "string"), ("warc_ts", "timestamp"), ("event_idx", "int"),
    ("line_no", "int"), ("event_time", "timestamp"),
    ("tz_offset", "string"), ("jvm_age_seconds", "double"),
    ("gc_class", "string"), ("gc_cause", "string"),
    ("heap_before_bytes", "bigint"), ("heap_after_bytes", "bigint"),
    ("heap_max_bytes", "bigint"), ("heap_reclaimed_bytes", "bigint"),
    ("pause_seconds", "double"),
    ("generations", "array<struct<name:string,before_bytes:bigint,"
     "after_bytes:bigint,capacity_bytes:bigint>>"),
    ("regions", "array<struct<name:string,used_before:string,"
     "used_after:string,capacity_before:string,capacity_after:string>>"),
    ("promoted_bytes", "bigint"), ("desired_survivor_size", "bigint"),
    ("new_threshold", "int"), ("stopped_seconds", "double"),
    ("seconds_to_stop", "double"),
    ("bytes_allocated_since_last", "bigint"),
    ("millis_since_last", "bigint"), ("heap_allocation_rate", "bigint"),
    ("promotion_rate", "bigint"),
]


@pytest.mark.parametrize("mode", ["gc_line", "heap_stats"])
@pytest.mark.parametrize("stitch", ["narrow", "window"])
def test_build_events_schema_pinned(pages, stitch, mode):
    """``build_events`` columns as (name, type, nullable): the join key
    leads, every parsed and rate column is nullable except the window
    stitch's row_number ``event_idx``, and the resolved family and its
    sink are never NULL."""
    from gclog_parser_spark.plans.pipeline import build_events

    df = build_events(pages, mode=mode, stitch=stitch)
    got = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]
    want = (
        [("gc_type", "string", True)]
        + [
            (n, t, not (stitch == "window" and n == "event_idx"))
            for n, t in _EVENT_COLUMNS
        ]
        + [("family", "string", False), ("sink", "string", False)]
    )
    assert got == want


def test_narrow_udf_batch_without_events_keeps_columns():
    """A batch whose pages hold no event still yields a frame Arrow
    converts to the UDF schema (empty columns must not infer float64)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from gclog_parser_spark.operators.parse import _UDF_SCHEMA, _parse_pages_fn

    batch = pd.DataFrame(
        {"url": ["u"], "warc_ts": [0], "gc_text": ["no gc log here"]}
    )
    (out,) = _parse_pages_fn(False)(iter([batch]))
    assert list(out.columns) == _UDF_SCHEMA.names
    table = pa.Table.from_pandas(out, schema=to_arrow_schema(_UDF_SCHEMA))
    assert table.num_rows == 0


def test_rates_single_window_no_extra_shuffle(pages):
    """Rates = one window over (url, event_idx); adding them to the
    parsed events costs exactly one exchange."""
    events = parse_events(pages, stitch="narrow")
    plan = plan_of(with_rates(events))
    assert n_shuffles(plan) == 1


def test_build_events_rates_window_evaluates_last_once(pages):
    """The rate CASEs read the previous event through one lateral alias,
    so the executed ``build_events`` plan's ``Window`` node evaluates
    exactly one ``last()``."""
    plan = plan_of(build_events(pages))
    (window,) = [l for l in plan.splitlines() if "Window [" in l]
    assert window.count("last(") == 1


def test_salted_agg_two_stage(pages):
    """The salted variant is two hash aggregates over two exchanges;
    stage-1 keys carry the salt."""
    df = per_sink_hourly_salted(with_sink(parse_events(pages)))
    plan = plan_of(df)
    assert n_shuffles(plan) == 2
    assert "salt" in plan


def test_rel_join_agg_broadcasts(spark, sf_dir):
    import __spark_entry__ as entry

    plan = plan_of(entry.q_rel_join_agg(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rel_shuffle_join_is_sort_merge(spark, sf_dir):
    """Fact-to-fact join: SortMergeJoin with BOTH sides exchanged on
    the join key, AQE on, and no broadcast of either fact side — the
    physical path a 100 TB orders⋈lineitem must take."""
    import __spark_entry__ as entry

    assert (
        spark.conf.get("spark.sql.adaptive.enabled") == "true"
    )  # AQE stays on; the merge hint (not a conf bypass) picks SMJ
    plan = plan_of(entry.q_rel_shuffle_join(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastExchange" not in plan
    # both fact sides shuffle on the key (plus the final agg exchange)
    assert n_shuffles(plan) >= 2


def test_export_single_shuffle_per_log(pages):
    """Distributed TSV export: the per-log applyInPandas costs exactly
    ONE exchange on hash(url) — formatting a 10^12-page corpus is one
    shuffle plus embarrassingly-parallel group formatting."""
    from gclog_parser_spark.operators.export import tsv_export

    df = tsv_export(with_rates(parse_events(pages, stitch="narrow")))
    plan = plan_of(df)
    # rates window + export grouping share hash(url): Catalyst reuses
    # the one exchange, so 2 url-clustered ops still cost ≤ 2 total
    assert n_shuffles(plan) <= 2
    assert "FlatMapGroupsInPandas" in plan


def test_np_scorer_no_extra_shuffle(spark, sf_dir):
    """The Arrow/numpy int8 corpus scan is a pure projection: no
    exchange before the TakeOrderedAndProject top-k."""
    from gclog_parser_spark.operators.similarity import (
        quantize_embeddings,
        quantized_scan_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(quantized_scan_topk(quantize_embeddings(emb)))
    assert n_shuffles(plan) == 0
    assert "ArrowEvalPython" in plan or "EvalPython" in plan
    assert "TakeOrderedAndProject" in plan


def test_jaccard_df_cap_feeds_join(spark):
    """The postings self-join consumes the df-capped postings: the plan
    carries the df<=cap filter on an aggregate BELOW the pair join."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d", "s"), (2, "a b c e", "s")],
        "doc_id long, text string, source string",
    )
    plan = plan_of(jaccard_pairs(docs))
    assert re.search(r"\(?df#\d+L?\)? <= 256", plan) or "<= 256" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_partial_aggregation_map_side(pages):
    """count/sum/percentile_approx all pre-aggregate map-side: the
    HashAggregate below the exchange must carry partial functions, so
    the hot hour arrives at the reducer pre-collapsed (skew defense
    without salting)."""
    df = per_sink_hourly(with_sink(parse_events(pages)))
    plan = plan_of(df)
    before_exchange = plan.split("Exchange hashpartitioning")[1]
    assert "partial_count" in before_exchange
    assert "partial_sum" in before_exchange
    assert "partial_percentile" in before_exchange


def test_repetition_bounded_shuffles_and_scrub_scan_side(spark, sf_dir):
    """repetition_stats: the bigram postings count + per-doc max + join
    back share partitionings — ≤2 exchanges total; scrub_pii is a pure
    codegen projection (zero exchanges)."""
    from gclog_parser_spark.operators.textstats import (
        repetition_stats,
        scrub_pii,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(repetition_stats(docs))
    assert n_shuffles(plan) <= 2
    plan2 = plan_of(scrub_pii(docs))
    assert "Exchange" not in plan2


def test_sessions_single_shuffle(pages):
    """Sessionization: lag window + running-sum window + final agg all
    cluster on hash(url) — exactly one exchange."""
    from gclog_parser_spark.operators.aggregate import session_stats

    plan = plan_of(session_stats(parse_events(pages, stitch="narrow")))
    assert n_shuffles(plan) == 1


def test_set_ops_and_pivot_plan_shapes(spark, sf_dir):
    """EXCEPT → left-anti join, INTERSECT → left-semi join (both over
    distinct rows); PIVOT with an explicit value list is one
    conditional-aggregate pass (a single partial/final HashAggregate
    pair — no per-value scan)."""
    import __spark_entry__ as entry

    p_ex = plan_of(entry.q_rel_except(spark, sf_dir))
    assert "LeftAnti" in p_ex
    p_in = plan_of(entry.q_rel_intersect(spark, sf_dir))
    assert "LeftSemi" in p_in
    p_pv = plan_of(entry.q_gc_pivot_family(spark, sf_dir))
    scans = p_pv.count("FileScan")
    assert scans <= 1  # fixture dim is a local relation; one pass
    assert p_pv.count("HashAggregate") <= 4  # partial+final (+pivot)


def test_rel_multiway_join_plan(spark, sf_dir):
    """Q5-shape six-table join: the fact spine (customer⋈orders⋈
    lineitem) stays SortMergeJoin while the region/nation dims ride a
    BroadcastHashJoin — the mixed plan a 100 TB Q5 needs (no broadcast
    of any fact side; the only broadcasts are the explicit dim hints)."""
    import __spark_entry__ as entry

    plan = plan_of(entry.q_rel_multiway_join(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" in plan
    # broadcasts: nation, region (+ Catalyst may elect supplier);
    # never the orders/lineitem spine
    assert plan.count("BroadcastExchange") <= 3


def test_fuzzy_pairs_is_equi_join_with_precap(spark):
    """fuzzy_pairs must hash-join on the prefix block (never a
    cartesian/BNLJ) and apply the block-size cap upstream of it."""
    from gclog_parser_spark.operators.textstats import fuzzy_pairs

    docs = spark.createDataFrame(
        [(i, f"text number {i} " * 10) for i in range(20)],
        "doc_id long, text string",
    )
    plan = fuzzy_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "pfx" in plan  # the equi key actually drives the join


def test_pagerank_no_cartesian_and_bounded_plan(spark):
    from gclog_parser_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(30)], "src long, dst long"
    )
    out = pagerank(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # localCheckpoint truncates lineage: the visible plan is the LAST
    # iteration's join+agg, not 5 nested ones
    assert plan.count("HashAggregate") <= 6


def test_range_frame_single_exchange(spark, sf_dir):
    """The RANGE-frame rolling window must cost exactly ONE exchange
    (the user_id hash partitioning) — no extra sort shuffles."""
    import __spark_entry__ as entry

    df = entry.q_rel_range_frame(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_grouping_sets_is_single_pass_expand(spark, sf_dir):
    """GROUPING SETS must compile to ONE Expand + one aggregation pass,
    not a union of four separate scans."""
    import __spark_entry__ as entry

    df = entry.q_rel_grouping_sets(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan
    assert plan.count("FileScan") == 1, plan


def test_kmv_no_extra_scan_for_exact(spark, sf_dir):
    """kmv_distinct's n_exact must reuse the distinct relation — one
    FileScan total, not a second pass over events."""
    import __spark_entry__ as entry

    df = entry.q_rel_kmv_distinct(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan


def test_heavy_hitters_exact_pass_broadcasts_candidates(spark, sf_dir):
    """The verification pass must semi-join the BROADCAST candidate
    set (≤ capacity·partitions rows) — never shuffle the corpus
    against it — and aggregate only candidate items."""
    import __spark_entry__ as entry

    df = entry.q_text_heavy_hitters(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # corpus side never sorts: no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan, plan


def test_contamination_train_side_not_hinted_broadcast(spark, sf_dir):
    """split_contamination's train-gram relation is ~90 % of the
    corpus at scale, so the operator must NOT hard-code a broadcast
    hint (unlike ngram_decontaminate, whose benchmark side is tiny by
    contract).  At sf0.01 Catalyst rightly broadcasts the small train
    side on its own; with auto-broadcast disabled the plan must
    degrade to a shuffled equi-join — proving the choice is the
    planner's, not the operator's."""
    import __spark_entry__ as entry

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = entry.q_corpus_contamination(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    semi = [
        seg for seg in plan.split("\n")
        if "Join" in seg and "LeftSemi" in seg
    ]
    assert semi, plan
    assert not any("Broadcast" in s for s in semi), semi


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """Dynamic partition pruning: the dim's surviving day keys arrive
    at the fact scan as a runtime PartitionFilters subquery — the fact
    partitions for non-matching days are never read."""
    import __spark_entry__ as entry

    df = entry.q_rel_dpp_scan(spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan
    scan = next(
        l for l in plan.splitlines()
        if "FileScan" in l and "gps_dpp" in l
    )
    assert "dynamicpruning" in scan  # on the fact scan itself
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketed twins (8 buckets, sorted on orderkey) feed the
    SortMergeJoin directly: ZERO exchanges anywhere in the bare join
    plan — the layout investment that turns every repeated orderkey
    join into a scan at 100 TB."""
    import __spark_entry__ as entry

    li, orders = entry._bucketed_pair(spark, sf_dir)
    j = li.hint("merge").join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    )
    plan = plan_of(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a 90 %-hot key would pin one SMJ task at 100 TB;
    with adaptive skew handling the runtime splits the hot partition
    and the final plan carries SortMergeJoin(skew=true) + an
    'AQEShuffleRead skewed' on the fact side.  (Thresholds are scaled
    to sandbox bytes; partition coalescing is disabled for the probe
    because merging tiny partitions below the threshold masks the
    skew detector at this data size.)"""
    import pyspark.sql.functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        spark.conf.set(keys[0], "8KB")
        spark.conf.set(keys[1], "4KB")
        spark.conf.set(keys[2], "1")
        spark.conf.set(keys[3], "-1")
        spark.conf.set(keys[4], "false")
        fact = spark.range(400000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = fact.join(dim.hint("merge"), "k").select("k")
        assert len(j.collect()) == 400000  # every row joins
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_knn_bucket_scorer_single_corpus_exchange(spark, sf_dir):
    """knn_graph's bucket scorer ships each vector across ONE
    hash exchange (the bucket groupBy feeding the Arrow group map);
    candidate pairs never cross an exchange as array rows, and the
    per-src top-k is a WindowGroupLimit (map-side partial top-k)."""
    from gclog_parser_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(knn_graph(emb, k=3))
    assert "FlatMapGroupsInPandas" in plan
    assert "WindowGroupLimit" in plan
    # exactly two hash exchanges: bucket groupBy + the rank window's
    # partitionBy(src) over the scalar pair rows
    assert n_shuffles(plan) == 2
    # no pair-join of embedding arrays anywhere in the plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_fleet_scorecard_joins_reuse_url_partitioning(pages):
    """The scorecard composes five per-url rollups with four left
    joins; every join must REUSE hashpartitioning(url) from the branch
    aggregates — exactly five url exchanges in the plan (one per
    signal branch), zero added by the composition, and all four joins
    sort-merge on the co-partitioned key."""
    from gclog_parser_spark.operators.rates import fleet_scorecard

    ev = parse_events(pages, stitch="narrow")
    plan = plan_of(fleet_scorecard(ev))
    url_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(url", plan)
    )
    assert url_exchanges == 5, plan[:2000]
    # small stats may broadcast the per-JVM rollups (fine — they're
    # ∝ JVMs); what matters is 4 url joins and no 6th url exchange
    assert len(
        re.findall(r"(SortMergeJoin|BroadcastHashJoin) \[url", plan)
    ) == 4


def test_crawl_budget_host_rank_is_host_sized(pages):
    """Hamilton apportionment: the counts aggregate exchanges on host,
    the totals/leftover are 1-row broadcast-joined (no shuffled join
    for them), and the remainder ranking is the only single-partition
    window — over HOSTS, never pages."""
    from gclog_parser_spark.operators.webstats import (
        crawl_budget,
        synth_urls,
    )

    docs = pages.selectExpr(
        "monotonically_increasing_id() AS doc_id",
        "'src' AS source", "'en' AS lang",
    )
    plan = plan_of(crawl_budget(synth_urls(docs)))
    # ONE host exchange: the Σrem = N·leftover identity rides the rank
    # window instead of a second aggregate over the counts relation
    assert len(re.findall(r"Exchange hashpartitioning\(host", plan)) == 1
    # the 1-row totals arrive via broadcast, not a shuffle join
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) == 1
    # two single-partition exchanges: the 1-row global total count
    # and the host-sized rank+leftover window — both ∝ hosts/scalars,
    # never pages
    assert len(re.findall(r"Exchange SinglePartition", plan)) == 2
