"""Sliding windows, histograms, tf-idf: semantics on hand-built
frames + the plan shapes that keep them one-exchange at scale."""

import datetime as dt

import pyspark.sql.functions as F

from gclog_parser_spark.operators.aggregate import (
    sliding_counts,
    value_histogram,
)
from gclog_parser_spark.operators.textstats import tfidf_topk


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_sliding_counts_each_row_in_two_windows(spark):
    ev = spark.createDataFrame(
        [
            (_ts("2024-01-01T00:07:00"), "a", 1.0),
            (_ts("2024-01-01T00:12:00"), "a", 2.0),
        ],
        "ts timestamp, event_type string, value double",
    )
    rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in sliding_counts(ev).collect()
    }
    base = int(_ts("2024-01-01T00:00:00").replace(
        tzinfo=dt.timezone.utc).timestamp())
    # 00:07 → windows starting 00:00 and 00:05; 00:12 → 00:05 and 00:10
    assert rows[(base, "a")] == (1, 1.0)
    assert rows[(base + 300, "a")] == (2, 3.0)
    assert rows[(base + 600, "a")] == (1, 2.0)
    assert len(rows) == 3


def test_sliding_counts_single_exchange(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type", "value"
    )
    plan = sliding_counts(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_value_histogram_clamps_and_counts(spark):
    df = spark.createDataFrame(
        [(-1.0,), (0.05,), (0.25,), (3.95,), (99.0,), (None,)],
        "x double",
    )
    rows = {
        r["bin"]: (r["n"], r["bin_min"], r["bin_max"])
        for r in value_histogram(
            df, "x", lo=0.0, hi=4.0, n_bins=20
        ).collect()
    }
    assert rows[0] == (2, -1.0, 0.05)    # underflow clamped into bin 0
    assert rows[1][0] == 1               # 0.25 → [0.2, 0.4)
    assert rows[19] == (2, 3.95, 99.0)   # top bin + overflow
    assert sum(n for n, _, _ in rows.values()) == 5  # null dropped


def test_tfidf_rational_scores_and_ties(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id int, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["rnk"], r["word"], r["score"])
        )
    # doc 1: apple tf=2 df=1 → 2*4/2=4.0 beats banana tf=1 df=2 → 4/3
    assert by_doc[1][0] == (1, "apple", 4.0)
    assert by_doc[1][1][1] == "banana"
    # doc 3: cherry tf=3 df=2 → 3*4/3=4.0 beats date tf=1 df=1 → 2.0
    assert by_doc[3][0] == (1, "cherry", 4.0)
    assert by_doc[3][1] == (2, "date", 2.0)


def test_tfidf_broadcasts_vocab(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        tfidf_topk(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_boundaries(spark):
    from gclog_parser_spark.operators.textstats import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(40))),  # 2 chunks
            (2, "a b c"),                               # short: 1 chunk
        ],
        "doc_id int, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_words"])
        for r in chunk_documents(docs).collect()
    }
    # chunk 0 = words 0..31; chunk 1 starts at stride 24 → words 24..39
    assert rows[(1, 0)][1] == 32
    assert rows[(1, 0)][0].split()[0] == "w0"
    assert rows[(1, 0)][0].split()[-1] == "w31"
    assert rows[(1, 1)][0].split()[0] == "w24"
    assert rows[(1, 1)][0].split()[-1] == "w39"
    assert rows[(1, 1)][1] == 16  # clipped final chunk
    assert rows[(2, 0)] == ("a b c", 3)
    assert len(rows) == 3


def test_chunk_documents_zero_shuffle(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        chunk_documents(docs)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure generator projection


def test_global_topn_avoids_global_sort(spark, sf_dir):
    import __spark_entry__ as e

    df = e.q_rel_global_topn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # per-partition partial top-N, no rangepartitioning shuffle
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_skew_stats_literal(spark):
    """skew_ratio = count / (total/distinct); the hot key dominates."""
    from gclog_parser_spark.operators.aggregate import skew_stats

    df = spark.createDataFrame(
        [("a",)] * 8 + [(k,) for k in "gfedcb"],
        "k string",
    )
    # top 5 of 7 keys: the 1-count ties cut by key
    rows = skew_stats(df, ["k"]).collect()
    assert [r["k"] for r in rows] == ["a", "b", "c", "d", "e"]
    assert rows[0]["n"] == 8
    assert rows[0]["share"] == round(8 / 14, 6)
    # 7 distinct keys, uniform would be 14/7 each: 8 / (14/7) = 4.0
    assert rows[0]["skew_ratio"] == 4.0


def test_kmv_distinct_error_bound_and_exact_path(spark):
    """KMV semantics: groups under k report exactly; groups over k
    estimate within the theoretical ~1/sqrt(k) band (generous 3x)."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.aggregate import kmv_distinct

    rows = [("small", i) for i in range(20)]
    rows += [("big", i) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["g"]: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert out["small"]["n_exact"] == 20
    assert out["small"]["kmv_estimate"] == 20.0  # exact path
    big = out["big"]
    assert big["n_exact"] == 5000
    rel_err = abs(big["kmv_estimate"] - 5000) / 5000
    assert rel_err < 3.0 / (64 ** 0.5), rel_err
    # determinism: same data, same estimate
    again = {r["g"]: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert again["big"]["kmv_estimate"] == big["kmv_estimate"]


def test_kmv_merge_equals_whole_table_sketch(spark):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly — the k
    smallest of a union are found among each side's k smallest."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.aggregate import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 7919 % 1511).alias("v"),  # many dup values
    )
    a = df.where(F.col("id") % 2 == 0)
    b = df.where(F.col("id") % 2 == 1)
    merged = kmv_merge(
        [kmv_sketch(a, "g", "v", k=32), kmv_sketch(b, "g", "v", k=32)],
        "g",
        k=32,
    )
    whole = kmv_sketch(df, "g", "v", k=32)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    est = {
        r["g"]: r["kmv_estimate"]
        for r in kmv_estimate(merged, "g", k=32).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    }
    # k=32 is a deliberately tiny sketch — its estimator is heavy
    # tailed, so only order-of-magnitude sanity is pinned here; the
    # contract query (k=64, real corpus) is value-checked exactly
    # against the whole-table oracle
    for g, e in est.items():
        assert exact[g] / 4 < e < exact[g] * 4, (g, e, exact[g])


def test_heavy_hitters_exact_with_tiny_capacity(spark):
    from gclog_parser_spark.operators.aggregate import heavy_hitters

    # 300 'hot' + 700 distinct singletons over 7 partitions; k=5 →
    # threshold 200, so only 'hot' qualifies.  ~100 distinct items per
    # partition against 4·k = 20 counters force constant MG decrement
    # churn in every partition.
    rows = [("hot",)] * 300 + [(f"u{i}",) for i in range(700)]
    df = spark.createDataFrame(rows, "w string").repartition(7)
    out = heavy_hitters(df, "w", k=5).collect()
    assert [(r["item"], r["cnt"]) for r in out] == [("hot", 300)]
    assert abs(out[0]["share"] - 0.3) < 1e-9


def test_heavy_hitters_threshold_is_strict_integer(spark):
    from gclog_parser_spark.operators.aggregate import heavy_hitters

    # n=100, k=4 → threshold 25: a 25-count item is NOT a hitter
    # (strict >), a 26-count item is — exact integer cross-multiply,
    # no float boundary.
    rows = [("a",)] * 26 + [("b",)] * 25 + [(f"u{i}",) for i in range(49)]
    df = spark.createDataFrame(rows, "w string").repartition(3)
    out = heavy_hitters(df, "w", k=4).collect()
    assert [(r["item"], r["cnt"]) for r in out] == [("a", 26)]


# ---- bottom-k quantile sketch ------------------------------------------


def _qs_imports():
    from gclog_parser_spark.operators.aggregate import (
        quantile_sketch,
        quantile_sketch_merge,
        sketch_quantiles,
    )

    return quantile_sketch, quantile_sketch_merge, sketch_quantiles


def test_quantile_sketch_merge_equals_single_level(spark, sf_dir):
    """The mergeability contract inside one engine: 8 per-shard
    sketches merged == the whole-table sketch, row-for-row."""
    qs, qmerge, qq = _qs_imports()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    whole = qq(qs(ev, "event_type", "value", "event_id"), "event_type")
    shards = [
        qs(
            ev.where(F.pmod(F.col("event_id"), F.lit(8)) == i),
            "event_type", "value", "event_id",
        )
        for i in range(8)
    ]
    merged = qq(qmerge(shards, "event_type"), "event_type")
    key = lambda r: (r["event_type"],)
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_quantile_sketch_state_is_bounded(spark, sf_dir):
    qs, _, _ = _qs_imports()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sizes = (
        qs(ev, "event_type", "value", "event_id", k=32)
        .groupBy("event_type")
        .count()
        .collect()
    )
    assert sizes and all(r["count"] <= 32 for r in sizes)


def test_quantile_sketch_estimates_track_exact(spark, sf_dir):
    """Accuracy: on the event-value distribution the k=128 sample's
    p50 must land within the exact p40..p60 band per type (uniform
    sampling error at n=128 is ~±4.4 % of rank at the median)."""
    qs, _, qq = _qs_imports()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = {
        r["event_type"]: r["p50"]
        for r in qq(
            qs(ev, "event_type", "value", "event_id"), "event_type"
        ).collect()
    }
    exact = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in ev.where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.40)").alias("lo"),
            F.expr("percentile(value, 0.60)").alias("hi"),
        )
        .collect()
    }
    for t, p50 in est.items():
        lo, hi = exact[t]
        assert lo <= p50 <= hi, (t, lo, p50, hi)


def test_quantile_sketch_deterministic_and_null_safe(spark):
    """Hash draws (not rand()): same input → same sketch; NULL values
    are not sample points."""
    qs, _, _ = _qs_imports()
    df = spark.createDataFrame(
        [(i, "a", float(i) if i % 5 else None) for i in range(100)],
        "event_id long, event_type string, value double",
    )
    s1 = sorted(map(tuple, qs(df, "event_type", "value", "event_id", k=16).collect()))
    s2 = sorted(map(tuple, qs(df, "event_type", "value", "event_id", k=16).collect()))
    assert s1 == s2
    assert all(v is not None for (_, v, _) in s1)
    assert len(s1) == 16


# ---- theta-style KMV pair intersections ---------------------------------


def test_kmv_intersect_exact_when_sketches_exact(spark):
    """Groups with < k distinct values → θ = 2³² → the estimate IS the
    exact overlap."""
    from gclog_parser_spark.operators.aggregate import (
        kmv_pair_intersections,
    )

    rows = [("a", i) for i in range(30)] + [("b", i) for i in range(20, 50)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = kmv_pair_intersections(df, "event_type", "user_id", k=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["ga"], r["gb"]) == ("a", "b")
    assert r["n_exact"] == 10
    assert r["n_common"] == 10
    assert r["est_intersection"] == 10.0


def test_kmv_intersect_estimates_track_exact(spark, sf_dir):
    """On the real event data (hundreds of distinct users per type,
    k=64 sketches) every pair's estimate lands within 60 % of truth —
    the theta-intersection error bound at this k and overlap."""
    from gclog_parser_spark.operators.aggregate import (
        kmv_pair_intersections,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = kmv_pair_intersections(ev, "event_type", "user_id").collect()
    assert len(rows) == 10  # C(5,2) pairs
    for r in rows:
        assert r["n_exact"] > 0
        lo, hi = 0.4 * r["n_exact"], 1.6 * r["n_exact"]
        assert lo <= r["est_intersection"] <= hi, tuple(r)


def test_kmv_intersect_zero_overlap_pair_present(spark):
    from gclog_parser_spark.operators.aggregate import (
        kmv_pair_intersections,
    )

    rows = [("a", i) for i in range(10)] + [("b", 1000 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = kmv_pair_intersections(df, "event_type", "user_id").collect()
    assert len(out) == 1
    assert out[0]["n_common"] == 0 and out[0]["n_exact"] == 0
    assert out[0]["est_intersection"] == 0.0


# ---- incremental MV maintenance ------------------------------------------


def test_mv_state_merge_equals_full_recompute(spark, sf_dir):
    """merge(state(A), state(B), state(C)) == state(A∪B∪C) for any
    partitioning of the table — three disjoint thirds here."""
    from gclog_parser_spark.operators.aggregate import (
        agg_state,
        merge_agg_states,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    thirds = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
    merged = merge_agg_states([agg_state(t) for t in thirds])
    whole = agg_state(ev)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_mv_refresh_with_empty_delta_is_identity(spark, sf_dir):
    from gclog_parser_spark.operators.aggregate import (
        agg_state,
        merge_agg_states,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    empty = ev.where(F.lit(False))
    merged = merge_agg_states([agg_state(ev), agg_state(empty)])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, agg_state(ev).collect())
    )


def test_hll_registers_merge_by_max(spark, sf_dir):
    """sketch(A ∪ B) == max-merge(sketch(A), sketch(B)) — the property
    that lets per-batch/per-day register relations roll up without
    rescanning history."""
    from gclog_parser_spark.operators.aggregate import (
        hll_distinct,
        hll_registers,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    halves = [ev.where(F.col("event_id") % 2 == i) for i in range(2)]
    parts = [
        hll_registers(h, ["event_type"], "user_id") for h in halves
    ]
    merged_regs = (
        parts[0]
        .unionByName(parts[1])
        .groupBy("event_type", "reg")
        .agg(F.max("r").alias("r"))
    )
    merged = hll_distinct(
        ev, ["event_type"], "user_id", registers=merged_regs
    )
    whole = hll_distinct(ev, ["event_type"], "user_id")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_estimate_within_error_bound(spark, sf_dir):
    """m=16 → stderr ≈ 26 %; every group at sf0.01 must land within
    4σ of exact (raw-regime groups only, which all of these are)."""
    from gclog_parser_spark.operators.aggregate import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = {
        r.event_type: r.est_distinct
        for r in hll_distinct(ev, ["event_type"], "user_id").collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 4 * 1.04 / (16 ** 0.5), (
            k, est[k], n,
        )


def test_hll_state_is_bounded_and_deterministic(spark, sf_dir):
    from gclog_parser_spark.operators.aggregate import hll_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    regs = hll_registers(ev, ["event_type"], "user_id", p=4).collect()
    per_group: dict[str, int] = {}
    for r in regs:
        assert 0 <= r.reg < 16
        assert 1 <= r.r <= 41
        per_group[r.event_type] = per_group.get(r.event_type, 0) + 1
    assert all(n <= 16 for n in per_group.values())
    again = hll_registers(ev, ["event_type"], "user_id", p=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, regs))


def test_mad_anomalies_flags_only_the_spike(spark):
    from gclog_parser_spark.operators.aggregate import mad_anomalies

    counts = spark.createDataFrame(
        [(h, 100 + h % 3) for h in range(23)] + [(23, 5000)],
        "hour int, n long",
    )
    rows = {r.hour: r for r in mad_anomalies(counts, "n").collect()}
    assert rows[23].is_anomaly
    assert not any(r.is_anomaly for h, r in rows.items() if h != 23)
    # the spike must not drag the location stat (robustness): median
    # stays in the bulk
    assert 100 <= rows[0].med <= 103


def test_mad_anomalies_hot_hour_fires_on_pages(spark, sf_dir):
    import pyspark.sql.functions as F

    from gclog_parser_spark.datagen import pages_from_documents
    from gclog_parser_spark.operators.aggregate import mad_anomalies

    counts = pages_from_documents(spark, sf_dir).groupBy(
        F.hour("warc_ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    flagged = [
        r.hour for r in mad_anomalies(counts, "n").collect()
        if r.is_anomaly
    ]
    assert flagged == [4]  # the 70%-by-construction hot hour


def test_cms_overestimates_only_and_merges(spark, sf_dir):
    from gclog_parser_spark.operators.aggregate import (
        cms_counters,
        cms_estimate,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counters = cms_counters(ev, "user_id")
    # bounded state: <= depth * width counter rows, exact row sums
    rows = counters.collect()
    assert len(rows) <= 4 * 512
    n_events = ev.where(F.col("user_id").isNotNull()).count()
    per_row = {}
    for r in rows:
        per_row[r.row_idx] = per_row.get(r.row_idx, 0) + r.cnt
    assert all(v == n_events for v in per_row.values())
    # one-sided error: est >= exact for EVERY key
    probes = ev.select("user_id").distinct()
    est = {
        r.user_id: r.est
        for r in cms_estimate(probes, counters, "user_id").collect()
    }
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[k] >= v for k, v in exact.items())
    # few keys over 4x512 counters: collisions in all 4 rows are rare,
    # so nearly every estimate is exact
    assert sum(est[k] == v for k, v in exact.items()) >= 0.9 * len(exact)
    # mergeability: counters(A) + counters(B) == counters(A ∪ B)
    halves = [ev.where(F.col("event_id") % 2 == i) for i in range(2)]
    merged = (
        cms_counters(halves[0], "user_id")
        .unionByName(cms_counters(halves[1], "user_id"))
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rows)
    )


def test_cms_absent_key_estimates_zero_or_collision(spark):
    from gclog_parser_spark.operators.aggregate import (
        cms_counters,
        cms_estimate,
    )

    df = spark.createDataFrame([(1,)] * 5 + [(2,)] * 3, "k long")
    counters = cms_counters(df, "k")
    probes = spark.createDataFrame([(1,), (2,), (999,)], "k long")
    est = {
        r.k: r.est for r in cms_estimate(probes, counters, "k").collect()
    }
    assert est[1] >= 5 and est[2] >= 3
    assert est[999] in (0, 3, 5, 8)  # absent key: 0 unless colliding


def test_journey_paths_sessionize_and_truncate(spark):
    from datetime import datetime as dt

    from gclog_parser_spark.operators.aggregate import journey_paths

    def e(i, u, minute, t):
        return (i, u, dt(2024, 1, 1, minute // 60, minute % 60), t)

    ev = spark.createDataFrame(
        [
            # user 1, session 1: a>b ; session 2 (gap > 30m): c
            e(1, 1, 0, "a"), e(2, 1, 10, "b"), e(3, 1, 60, "c"),
            # user 2: one 7-step session — path truncates to 5 steps
            *[e(10 + i, 2, i, s) for i, s in enumerate("abcdefg")],
            # user 3: same a>b shape as user 1's first session
            e(30, 3, 0, "a"), e(31, 3, 5, "b"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    rows = {r.path: r.n_sessions for r in journey_paths(ev).collect()}
    assert rows == {"a>b": 2, "c": 1, "a>b>c>d>e": 1}


def test_journey_paths_topk_cut_is_deterministic(spark):
    from datetime import datetime as dt

    from gclog_parser_spark.operators.aggregate import journey_paths

    types = [f"t{i:02d}" for i in range(22)]
    ev = spark.createDataFrame(
        [(i, i, dt(2024, 1, 1), t) for i, t in enumerate(reversed(types))],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    # 22 single-step paths all tie at 1 — the top-20 cut must keep the
    # 20 lexicographically smallest
    rows = [r.path for r in journey_paths(ev).collect()]
    assert rows == types[:20]


def test_decayed_counts_exact_powers_of_two(spark):
    from datetime import datetime as dt

    from gclog_parser_spark.operators.aggregate import decayed_counts

    ev = spark.createDataFrame(
        [
            (1, "a", dt(2024, 1, 10)),   # age 0 → 2^40
            (2, "a", dt(2024, 1, 9)),    # age 1 → 2^39
            (3, "a", dt(2023, 1, 1)),    # age > 40 → capped: 1 tick
            (4, "b", dt(2024, 1, 10)),
        ],
        "event_id long, event_type string, ts timestamp",
    )
    rows = {r.event_type: r for r in decayed_counts(ev).collect()}
    assert rows["a"].decayed_ticks == (1 << 40) + (1 << 39) + 1
    assert rows["a"].n == 3
    assert rows["a"].trend_score == 1.5  # 1 + 0.5 + ~0 rounds to 1.5
    assert rows["b"].decayed_ticks == 1 << 40


def test_cms_spans_pairing_edges(spark):
    """cms_spans: abandoned cycle (two starts in a row) pairs only the
    second start; trailing unmatched start emits nothing; durations
    are exact trunc-ms."""
    from gclog_parser_spark.operators.aggregate import cms_spans

    def ev(url, line_no, gc_type, age):
        return (url, line_no, "cms", gc_type, age)

    rows = [
        # normal pair
        ev("a", 1, "CMS-concurrent-mark-start", 10.0),
        ev("a", 2, "CMS-concurrent-mark", 10.5),
        # abandoned: start, start, end -> only (3,4) skipped, (4,5) pairs
        ev("a", 3, "CMS-concurrent-sweep-start", 11.0),
        ev("a", 4, "CMS-concurrent-sweep-start", 12.0),
        ev("a", 5, "CMS-concurrent-sweep", 12.25),
        # trailing unmatched start
        ev("a", 6, "CMS-concurrent-reset-start", 13.0),
        # non-concurrent cms event is ignored
        ev("a", 7, "GC", 14.0),
    ]
    events = spark.createDataFrame(
        rows,
        "url string, line_no int, gc_class string, gc_type string,"
        " jvm_age_seconds double",
    )
    spans = {
        (r["phase"], r["span_idx"]): r for r in cms_spans(events).collect()
    }
    assert len(spans) == 2
    mark = spans[("CMS-concurrent-mark", 0)]
    assert (mark["start_age_ms"], mark["end_age_ms"],
            mark["duration_ms"]) == (10000, 10500, 500)
    sweep = spans[("CMS-concurrent-sweep", 0)]
    assert (sweep["start_age_ms"], sweep["duration_ms"]) == (12000, 250)
