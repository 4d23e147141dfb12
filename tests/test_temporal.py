"""As-of join and range join: semantics on hand-built frames, boundary
behavior, and the plan shapes that make them 100 TB-sane."""

import datetime as dt

import pyspark.sql.functions as F

from gclog_parser_spark.operators.temporal import asof_join, range_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _frame(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# asof_join semantics
# ---------------------------------------------------------------------------


def _asof_fixture(spark):
    left = _frame(
        spark,
        [
            (1, _ts("2024-01-01T10:00:00"), "a"),
            (1, _ts("2024-01-01T12:00:00"), "b"),
            (1, _ts("2024-01-01T09:00:00"), "early"),
            (2, _ts("2024-01-01T10:30:00"), "c"),
            (3, _ts("2024-01-01T10:00:00"), "lonely"),
        ],
        "key int, ts timestamp, tag string",
    )
    right = _frame(
        spark,
        [
            (1, _ts("2024-01-01T09:30:00"), 10.0),
            (1, _ts("2024-01-01T11:00:00"), 20.0),
            (2, _ts("2024-01-01T10:30:00"), 30.0),  # exact tie with left
        ],
        "key int, ts timestamp, price double",
    )
    return left, right


def test_asof_backward_latest_at_or_before(spark):
    left, right = _asof_fixture(spark)
    out = {
        r["tag"]: r["asof_price"]
        for r in asof_join(left, right, key="key").collect()
    }
    assert out == {
        "early": None,  # nothing at or before 09:00
        "a": 10.0,      # 09:30 row
        "b": 20.0,      # 11:00 beats 09:30
        "c": 30.0,      # exact-timestamp right row matches
        "lonely": None,  # key never on right side
    }


def test_asof_left_rows_and_columns_preserved(spark):
    left, right = _asof_fixture(spark)
    j = asof_join(left, right, key="key")
    assert j.count() == left.count()
    assert set(j.columns) == {
        "key", "ts", "tag", "asof_ts", "asof_price"
    }


def test_asof_single_exchange(spark, sf_dir):
    # real parquet scans (local relations satisfy the window's
    # distribution trivially and would hide the exchange)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    plan = _plan(asof_join(left, right, key="user_id"))
    # union of both sides shuffles ONCE on the key for the window;
    # no join operator, no broadcast of a fact side
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# range_join semantics
# ---------------------------------------------------------------------------


def _range_fixture(spark):
    intervals = _frame(
        spark,
        [
            (100, _ts("2024-01-01T10:00:00"), _ts("2024-01-01T10:10:00")),
            # spans several 600 s buckets
            (200, _ts("2024-01-01T11:05:00"), _ts("2024-01-01T11:45:00")),
        ],
        "incident_id int, istart timestamp, iend timestamp",
    )
    facts = _frame(
        spark,
        [
            (1, _ts("2024-01-01T10:00:00")),   # start-inclusive
            (2, _ts("2024-01-01T10:09:59")),   # inside
            (3, _ts("2024-01-01T10:10:00")),   # end-exclusive → out
            (4, _ts("2024-01-01T11:20:00")),   # middle bucket of 200
            (5, _ts("2024-01-01T11:44:59")),   # last bucket of 200
            (6, _ts("2024-01-01T09:59:59")),   # just before 100 → out
        ],
        "event_id int, ts timestamp",
    )
    return facts, intervals


def test_range_join_containment_and_boundaries(spark):
    facts, intervals = _range_fixture(spark)
    got = sorted(
        (r["incident_id"], r["event_id"])
        for r in range_join(facts, intervals).collect()
    )
    assert got == [(100, 1), (100, 2), (200, 4), (200, 5)]


def test_range_join_no_duplicate_matches(spark):
    # a fact belongs to exactly one bucket ⇒ one output row per
    # (interval, fact) pair even when the interval spans many buckets
    facts, intervals = _range_fixture(spark)
    out = range_join(facts, intervals, bucket_secs=60)
    assert out.count() == out.dropDuplicates(
        ["incident_id", "event_id"]
    ).count()


def test_range_join_plan_is_equi_join(spark):
    facts, intervals = _range_fixture(spark)
    plan = _plan(range_join(facts, intervals))
    # the point of the bucketing: a real equi-join on _bkt, never the
    # BNLJ/cross plan a bare inequality join produces
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "HashJoin" in plan)


# ---------------------------------------------------------------------------
# decontamination plan shape
# ---------------------------------------------------------------------------


def test_decontam_broadcasts_benchmark(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    out = ngram_decontaminate(corpus, bench)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # corpus side: scan → explode → broadcast-join, then ONE exchange
    # for the per-doc count (the benchmark side's tiny distinct also
    # shows as exchanges; corpus data itself shuffles once)
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


class TestResampleFfill:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )

    def test_gap_fill_and_grid(self, spark):
        from datetime import datetime as dt

        from gclog_parser_spark.operators.temporal import resample_ffill

        ev = self._ev(spark, [
            (1, 7, dt(2024, 1, 1, 0, 10), 1.0),
            (2, 7, dt(2024, 1, 1, 0, 50), 2.0),   # same bucket, later
            (3, 7, dt(2024, 1, 1, 3, 5), 9.0),    # 2 empty buckets
            (4, 8, dt(2024, 1, 1, 5, 0), 4.0),
        ])
        got = {
            (r.user_id, r.bucket.hour): (r.value_ffill, r.is_observed)
            for r in resample_ffill(ev).collect()
        }
        # bucket 0 keeps the LATER event's value (max by ts,event_id)
        assert got[(7, 0)] == (2.0, True)
        assert got[(7, 1)] == (2.0, False)   # carried across the gap
        assert got[(7, 2)] == (2.0, False)
        assert got[(7, 3)] == (9.0, True)
        assert got[(8, 5)] == (4.0, True)
        assert len(got) == 5  # grid spans first..last bucket per key

    def test_tie_breaks_on_event_id(self, spark):
        from datetime import datetime as dt

        from gclog_parser_spark.operators.temporal import resample_ffill

        t = dt(2024, 1, 1, 0, 0)
        ev = self._ev(spark, [(2, 1, t, 5.0), (1, 1, t, 3.0)])
        [r] = resample_ffill(ev).collect()
        assert r.value_ffill == 5.0  # higher event_id wins the tie

    def test_step_validation(self, spark):
        # the grid step is the truncation unit (1 hour), so every
        # observation lands on a grid bucket and none vanishes
        from datetime import datetime as dt

        from gclog_parser_spark.operators.temporal import resample_ffill

        ev = self._ev(spark, [(1, 1, dt(2024, 1, 1, 0, 59), 1.0),
                              (2, 1, dt(2024, 1, 1, 3, 1), 2.0)])
        rows = sorted(resample_ffill(ev).collect(), key=lambda r: r.bucket)
        assert [r.bucket for r in rows] == [
            dt(2024, 1, 1, h) for h in range(4)]
        assert [r.is_observed for r in rows] == [True, False, False, True]


def test_decontam_bloom_matches_broadcast_variant(spark, sf_dir, monkeypatch):
    """ngram_decontaminate_bloom is value-identical to the broadcast
    variant even with a deliberately tiny bitmap (high FP rate — the
    exact join must strip every false positive)."""
    from gclog_parser_spark.operators.textstats import (
        ngram_decontaminate,
        ngram_decontaminate_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    want = sorted(
        map(tuple, ngram_decontaminate(corpus, bench).collect())
    )
    got = sorted(
        map(tuple, ngram_decontaminate_bloom(corpus, bench).collect())
    )
    from gclog_parser_spark.operators import bloomjoin

    monkeypatch.setattr(bloomjoin, "M_BITS", 256)
    monkeypatch.setattr(bloomjoin, "N_HASHES", 2)
    tiny = sorted(
        map(tuple, ngram_decontaminate_bloom(corpus, bench).collect())
    )
    assert got == want
    assert tiny == want


def test_decontam_bloom_plan_filters_before_join(spark, sf_dir):
    """The Bloom predicate (xxhash64 lanes) sits in the corpus scan
    stage as a codegen Filter; the exact join is shuffle-hash, not
    broadcast — the bench-too-big-to-broadcast shape."""
    from gclog_parser_spark.operators.textstats import (
        ngram_decontaminate_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    plan = _plan(ngram_decontaminate_bloom(corpus, bench))
    assert "xxhash64" in plan
    assert "ShuffledHashJoin" in plan
    assert "EvalPython" not in plan
