"""Window-based rates vs the reference scan semantics, plus
enrich/route/aggregate stages."""

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark import core
from gclog_parser_spark.datagen import synth_pages
from gclog_parser_spark.fixtures import fixture_text
from gclog_parser_spark.operators.aggregate import (
    events_per_collector,
    per_sink_hourly,
    per_sink_hourly_salted,
)
from gclog_parser_spark.operators.enrich import explode_region_deltas
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.operators.route import fanout_write, with_sink


@pytest.fixture(scope="module")
def pages(spark):
    # each url names its fixture class: https://logs.example/<class>/<n>
    return synth_pages(spark, 30, parallelism=4).withColumn(
        "gclog_class", F.split("url", "/")[3]
    ).cache()


@pytest.fixture(scope="module")
def events(spark, pages):
    return parse_events(pages, mode="gc_line", stitch="narrow").cache()


def test_rates_match_reference_scan(spark, pages, events):
    """Spark window rates == pure-Python RateCalculator scan for every url
    of every fixture class (covers RateCalculatorTest.scala oracles at
    scale)."""
    rated = with_rates(events)
    rows = rated.join(
        pages.select("url", "gclog_class"), "url"
    ).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault((r["url"], r["gclog_class"]), []).append(r)
    assert by_url
    for (url, cls), got in by_url.items():
        got = sorted(got, key=lambda r: r["event_idx"])
        ref_events = core.parse_log(fixture_text(cls))
        ref_rates = core.calculate_rates(ref_events)
        assert len(got) == len(ref_rates), url
        for g, (alloc, millis, arate, prate) in zip(got, ref_rates):
            assert g["bytes_allocated_since_last"] == alloc, url
            assert g["millis_since_last"] == millis, url
            assert g["heap_allocation_rate"] == arate, url
            assert g["promotion_rate"] == prate, url


def test_rates_appstopped_skipped(spark, events):
    """AppStopped rows yield (0,0) and are transparent to neighbours
    (RateCalculator.scala:15)."""
    rated = with_rates(events).where(F.col("gc_class") == "app_stopped")
    rows = rated.select(
        "bytes_allocated_since_last", "millis_since_last"
    ).distinct().collect()
    assert rows == [] or [tuple(r) for r in rows] == [(0, 0)]


def test_enrich_and_route(spark, events):
    routed = with_sink(events)
    fams = {r["sink"] for r in routed.select("sink").distinct().collect()}
    assert "parallel_minor" in fams and "full" in fams
    assert "app_stopped" in fams and "cms_concurrent" in fams
    assert "promotion_failure" in fams
    # broadcast join must appear in the physical plan
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_region_enrichment(spark, pages):
    detailed = parse_events(pages, mode="heap_stats", stitch="narrow")
    flat = explode_region_deltas(detailed)
    kinds = dict(
        flat.groupBy("kind").count().collect()
    )
    assert kinds.get("young") and kinds.get("old") and kinds.get(
        "survivor_space"
    )
    assert "other" not in kinds  # dim covers the whole corpus


def test_fanout_and_aggregate(spark, events, tmp_path):
    out = str(tmp_path / "routed")
    fanout_write(events, out)
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # partition pruning on the routing key
    pruned = back.where(F.col("sink") == "full")
    assert pruned.count() == events.where(
        F.col("gc_type") == "Full GC"
    ).count()

    agg = per_sink_hourly(events, exact=True).collect()
    assert sum(r["events"] for r in agg) == events.count()
    salted = {
        (r["sink"], r["hour"]): (r["events"], r["heap_reclaimed_sum"])
        for r in per_sink_hourly_salted(events).collect()
    }
    for r in agg:
        assert salted[(r["sink"], r["hour"])] == (
            r["events"],
            r["heap_reclaimed_sum"],
        )

    fam = {r["family"]: r["events"] for r in
           events_per_collector(events).collect()}
    assert sum(fam.values()) == events.count()


def test_session_stats_gaps_and_islands(spark):
    """Constructed event stream: ages 1,2,3 | 100,101 | 500 with a 30 s
    gap must yield exactly three sessions with the right pause sums."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.aggregate import session_stats

    rows = [
        ("u", i, age, pause)
        for i, (age, pause) in enumerate(
            [(1.0, 0.1), (2.0, 0.2), (3.0, 0.3),
             (100.0, 0.4), (101.0, 0.5), (500.0, 0.6)]
        )
    ]
    ev = spark.createDataFrame(
        rows, "url string, event_idx int, jvm_age_seconds double,"
        " pause_seconds double"
    )
    out = {
        r["session_id"]: r
        for r in session_stats(ev).collect()
    }
    assert len(out) == 3
    assert out[0]["n_events"] == 3 and out[0]["total_pause"] == 0.6
    assert out[1]["n_events"] == 2 and out[1]["start_age"] == 100.0
    assert out[2]["n_events"] == 1 and out[2]["end_age"] == 500.0


def test_heap_trend_exact_ols(spark):
    """heap_trend: hand-computed OLS on a tiny synthetic event set,
    NULL slope for degenerate inputs (single point / constant x)."""
    from gclog_parser_spark.operators.rates import heap_trend

    rows = [
        # url A: y_kb = 100 + 2*x over x = 10, 20, 30 s -> slope 2.0
        ("a", 10.4, (100 + 20) * 1024),
        ("a", 20.9, (100 + 40) * 1024),
        ("a", 30.1, (100 + 60) * 1024),
        # url B: one point -> den == 0 -> NULL slope
        ("b", 5.0, 512 * 1024),
        # url C: two events in the same whole second -> den == 0
        ("c", 7.2, 100 * 1024),
        ("c", 7.9, 300 * 1024),
    ]
    ev = spark.createDataFrame(
        rows, "url string, jvm_age_seconds double, heap_after_bytes long"
    )
    out = {r["url"]: r for r in heap_trend(ev).collect()}
    a = out["a"]
    assert a["n_points"] == 3
    assert a["slope_kb_per_s"] == 2.0
    assert a["mean_heap_kb"] == 140.0
    assert out["b"]["slope_kb_per_s"] is None
    assert out["c"]["slope_kb_per_s"] is None
    assert out["c"]["mean_heap_kb"] == 200.0


def test_fullgc_pressure_gaps(spark):
    """fullgc_pressure: hand-computed interarrival gaps, NULL mean for
    a single Full GC, NULL rate for a zero-span log, non-Full events
    ignored."""
    from gclog_parser_spark.operators.rates import fullgc_pressure

    rows = [
        # url A: Full GCs at 1.0s / 2.5s / 5.5s -> gaps 1500, 3000 ms;
        # span 4500 ms -> 3 * 60000 / 4500 = 40 per minute
        ("a", 1, "Full GC", "basic", 1.0),
        ("a", 2, "GC", "basic", 1.5),       # minor GC: ignored
        ("a", 3, "Full GC", "basic", 2.5),
        ("a", 4, "Full GC", "basic", 5.5),
        # url B: one Full GC -> no gaps, zero span
        ("b", 1, "Full GC", "basic", 9.0),
        # url C: null age dropped entirely
        ("c", 1, "Full GC", "basic", None),
    ]
    ev = spark.createDataFrame(
        rows,
        "url string, line_no int, gc_type string, gc_class string,"
        " jvm_age_seconds double",
    )
    out = {r["url"]: r for r in fullgc_pressure(ev).collect()}
    a = out["a"]
    assert (a["n_full"], a["n_gaps"]) == (3, 2)
    assert (a["min_gap_ms"], a["max_gap_ms"]) == (1500, 3000)
    assert a["mean_gap_ms"] == 2250.0
    assert a["full_per_min"] == 40.0
    b = out["b"]
    assert (b["n_full"], b["n_gaps"]) == (1, 0)
    assert b["mean_gap_ms"] is None and b["full_per_min"] is None
    assert "c" not in out


def test_fullgc_pressure_age_reset_is_restart_boundary(spark):
    """A jvm_age reset mid-file (JVM restart appended to the same url)
    must NOT produce a negative gap: the restart-crossing lag
    difference is excluded from n_gaps/min/max/mean in both the
    operator and the oracle (ADVICE r03)."""
    import duckdb

    from gclog_parser_spark.operators.rates import fullgc_pressure

    rows = [
        # first JVM: Full GCs at 10.0s / 12.0s -> gap 2000 ms
        ("a", 1, "Full GC", "basic", 10.0),
        ("a", 2, "Full GC", "basic", 12.0),
        # restart: age resets to 1.0s -> lag diff -11000 ms, excluded
        ("a", 3, "Full GC", "basic", 1.0),
        # second JVM: next Full GC at 4.0s -> gap 3000 ms
        ("a", 4, "Full GC", "basic", 4.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "url string, line_no int, gc_type string, gc_class string,"
        " jvm_age_seconds double",
    )
    (r,) = fullgc_pressure(ev).collect()
    assert (r["n_full"], r["n_gaps"]) == (4, 2)
    assert (r["min_gap_ms"], r["max_gap_ms"]) == (2000, 3000)
    assert r["mean_gap_ms"] == 2500.0
    # span is max-min age = 11000 ms (degenerate across the restart,
    # documented); rate = 4 * 60000 / 11000
    assert r["full_per_min"] == round(4 * 60000 / 11000, 6)
    # oracle lockstep on the same rows: same guard, same outputs
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE fullx AS SELECT * FROM (VALUES"
        " ('a', 1, 10000), ('a', 2, 12000), ('a', 3, 1000),"
        " ('a', 4, 4000)) t(url, line_no, age_ms)"
    )
    got = con.execute(
        """WITH fgaps AS (
             SELECT url, age_ms,
               CASE WHEN age_ms - lag(age_ms)
                      OVER (PARTITION BY url ORDER BY line_no) >= 0
                    THEN age_ms - lag(age_ms)
                      OVER (PARTITION BY url ORDER BY line_no)
               END AS gap_ms
             FROM fullx)
           SELECT count(*), count(gap_ms), min(gap_ms), max(gap_ms)
           FROM fgaps GROUP BY url"""
    ).fetchone()
    assert got == (4, 2, 2000, 3000)


def test_gc_overhead_pinned(spark):
    """Hand-built events: 2 timed pauses over a 20 s span = exactly
    10 % overhead; single-event span and pause-less logs yield NULL
    pct (no divide-by-zero)."""
    from gclog_parser_spark.operators.rates import gc_overhead

    ev = spark.createDataFrame(
        [
            ("a", 10.0, 0.5),
            ("a", 20.0, None),
            ("a", 30.0, 1.5),
            ("b", 5.0, 0.1),
            ("c", 1.0, None),
            ("c", 2.0, None),
        ],
        "url string, jvm_age_seconds double, pause_seconds double",
    )
    got = {r["url"]: r for r in gc_overhead(ev).collect()}
    a = got["a"]
    assert a["n_pauses"] == 2
    assert a["pause_ticks_sum"] == 20_000_000  # (0.5+1.5)s in 0.1µs
    assert a["span_ms"] == 20_000
    assert a["overhead_pct"] == 10.0
    assert got["b"]["span_ms"] == 0
    assert got["b"]["overhead_pct"] is None
    c = got["c"]
    assert c["n_pauses"] == 0
    assert c["pause_ticks_sum"] == 0
    assert c["overhead_pct"] is None


def test_pause_cusum_catches_sustained_drift_and_resets(spark):
    """The case CUSUM exists for: a sustained +30 ms drift (far too
    small for point-outlier detection) accumulates and alarms, and the
    max(0, ·) floor resets after a better-than-target stretch.  Checked
    against a literal sequential replay of Page's recurrence."""
    from gclog_parser_spark.operators.rates import pause_cusum

    series = [0.100] * 20 + [0.130] * 20 + [0.050] * 13 + [0.130] * 5
    rows = [("jvm://a", i, p) for i, p in enumerate(series)]
    ev = spark.createDataFrame(
        rows, "url string, event_idx int, pause_seconds double"
    )
    got = {
        r["event_idx"]: (r["cusum_ticks"], r["alarm"])
        for r in pause_cusum(ev).collect()
    }

    s, want = 0, {}
    for i, p in enumerate(series):
        s = max(0, s + round(p * 10_000_000) - 1_000_000)
        want[i] = (s, s >= 5_000_000)
    assert got == want
    # drift phase: no alarm during the on-target prefix, alarm fires
    # inside the +30ms stretch (after ceil(500/30)=17 drift events)
    assert not any(a for i, (_, a) in got.items() if i < 20 + 16)
    assert got[20 + 17][1] and got[39][1]
    # the better-than-target stretch (6.0M accumulated, −0.5M per good
    # event → 12 events) drains the statistic to zero
    assert got[52][0] == 0 and not got[52][1]
    # and the tail's 5 drift events alone cannot re-alarm
    assert not got[57][1]


def test_slo_burn_multiwindow_alert_and_restart_split(spark):
    """Multi-window SLO burn semantics (round-5): a short-window spike
    alone must NOT page (the long window dilutes it below budget), a
    sustained burn pages in every short window, and a jvm_age reset
    starts a new run so two JVMs sharing a url never share a window.
    Exact ticks: slo=0.01 -> den_short 6e6, den_long 3e7."""
    from gclog_parser_spark.operators.rates import slo_burn

    rows = [
        # url a: spike in bucket 0 only (0.9+0.9s), echo in bucket 1
        ("a", 1, 10.0, 0.9),
        ("a", 2, 30.0, 0.9),
        ("a", 3, 65.0, 0.9),
        # url b: sustained 0.8s pause every 10s across 0..299s
        *[("b", i + 1, i * 10.0, 0.8) for i in range(30)],
        # url c: huge pause, then a restart (age resets) with a tiny one
        ("c", 1, 10.0, 3.0),
        ("c", 2, 5.0, 0.06),
    ]
    ev = spark.createDataFrame(
        rows,
        "url string, event_idx int, jvm_age_seconds double,"
        " pause_seconds double",
    )
    got = {
        (r["url"], r["run_id"], r["win_start_s"]): r
        for r in slo_burn(ev).collect()
    }
    # a / bucket 0: burn_short 3.0 but long window 0.9 < 1.0 -> no page
    a0 = got[("a", 0, 0)]
    assert (a0["ticks_short"], a0["ticks_long"]) == (18_000_000, 27_000_000)
    assert (a0["burn_short"], a0["burn_long"]) == (3.0, 0.9)
    assert not a0["alarm"]
    # a / bucket 1 (the 65s pause crosses the 60s boundary)
    a1 = got[("a", 0, 60)]
    assert (a1["ticks_short"], a1["burn_short"]) == (9_000_000, 1.5)
    assert not a1["alarm"]
    # b: every one of the 5 short windows burns 8.0x with long 8.0x
    for w in range(5):
        bw = got[("b", 0, w * 60)]
        assert (bw["burn_short"], bw["burn_long"]) == (8.0, 8.0)
        assert bw["alarm"]
    # c: the reset splits runs -- two (run, win 0) rows, only run 0 pages
    c0, c1 = got[("c", 0, 0)], got[("c", 1, 0)]
    assert (c0["burn_short"], c0["burn_long"]) == (5.0, 1.0)
    assert c0["alarm"]
    assert (c1["ticks_short"], c1["burn_short"]) == (600_000, 0.1)
    assert not c1["alarm"]
    assert len(got) == 2 + 5 + 2


def test_slo_burn_rejects_bad_windows(spark):
    # the windows are constants; the bucketing relies on the long
    # window nesting whole short windows and on an integral short-window
    # denominator, so a bad pair fails here instead of mis-bucketing
    from gclog_parser_spark.operators.rates import (
        SLO,
        SLO_LONG_S,
        SLO_SHORT_S,
        slo_burn,
    )

    assert SLO_LONG_S % SLO_SHORT_S == 0
    den_short = SLO_SHORT_S * 10_000_000 * SLO
    assert den_short == int(den_short)
    ev = spark.createDataFrame(
        [], "url string, event_idx int, jvm_age_seconds double,"
        " pause_seconds double"
    )
    assert slo_burn(ev).count() == 0  # empty-input totality


def test_fleet_scorecard_verdict_ladder(spark):
    """One synthetic JVM per verdict tier, each tripping exactly its
    own signal: severity is evaluated top-down (page > thrash > drift
    > watch > healthy) and missing signals (no Full GCs, no heap rows)
    fail their test instead of crashing."""
    from gclog_parser_spark.operators.rates import fleet_scorecard

    rows = []
    # healthy: 4 tiny pauses over 100s -> overhead 0.04%
    for i in range(4):
        rows.append(("h", i + 1, i + 1, "GC", i * 25.0, 0.01, None))
    # watch: 80 x 25ms over 100s -> overhead 2%; 25ms < CUSUM target
    for i in range(80):
        rows.append(("w", i + 1, i + 1, "GC", i * 1.25, 0.025, None))
    # drift: 12 x 150ms, 300s apart -> CUSUM +50ms per pause crosses
    # the 500ms threshold at pause 11; burn_long 1.5e6/3e7 << 1
    for i in range(12):
        rows.append(("d", i + 1, i + 1, "GC", i * 300.0, 0.15, None))
    # thrash: 13 Full GCs 5s apart (13 per minute of full-GC span),
    # 10ms pauses so no other signal fires
    for i in range(13):
        rows.append(("t", i + 1, i + 1, "Full GC", i * 5.0, 0.01, None))
    # page: 4 x 1s pauses inside one minute -> burn_short 6.67 AND
    # burn_long 1.33 both >= 1
    for i in range(4):
        rows.append(("p", i + 1, i + 1, "GC", 10.0 + i, 1.0, None))
    # give the paging JVM some heap points too (exercise the ht join)
    rows.append(("p", 5, 5, "GC", 20.0, 0.001, 1048576))
    rows.append(("p", 6, 6, "GC", 30.0, 0.001, 2097152))

    ev = spark.createDataFrame(
        rows,
        "url string, event_idx int, line_no int, gc_type string,"
        " jvm_age_seconds double, pause_seconds double,"
        " heap_after_bytes long",
    )
    got = {r["url"]: r for r in fleet_scorecard(ev).collect()}
    assert {u: r["verdict"] for u, r in got.items()} == {
        "h": "healthy", "w": "watch", "d": "drift",
        "t": "thrash", "p": "page",
    }
    assert got["p"]["n_slo_pages"] > 0
    assert got["d"]["n_drift_alarms"] > 0 and got["d"]["n_slo_pages"] == 0
    assert got["t"]["full_per_min"] >= 6.0
    assert got["w"]["overhead_pct"] == 2.025316  # 2e7 ticks / 98750 ms
    assert got["h"]["n_full"] == 0  # coalesced, not NULL
    assert got["h"]["full_per_min"] is None
    # heap slope only where heap rows exist
    assert got["p"]["slope_kb_per_s"] is not None
    assert got["h"]["slope_kb_per_s"] is None


def test_pause_jitter_exact_moments(spark):
    """Hand-checked Σx/Σx² rational variance on ms-round pauses, plus
    the single-pause and pause-free NULL guards."""
    from gclog_parser_spark.operators.rates import pause_jitter

    rows = [
        ("a", 0.010), ("a", 0.020), ("a", 0.030),   # 10/20/30 ms
        ("b", 0.500),                                # single pause
        ("c", None),                                 # no timed pause
    ]
    ev = spark.createDataFrame(
        rows, "url string, pause_seconds double"
    )
    got = {r["url"]: r for r in pause_jitter(ev).collect()}
    a = got["a"]
    assert a["n_pauses"] == 3
    assert a["mean_pause_ms"] == 20.0
    # sample variance of {10,20,30} ms = 100 ms²; stddev = 10 ms
    assert a["var_pause_ms2"] == 100.0
    assert a["stddev_pause_ms"] == 10.0
    b = got["b"]
    assert b["n_pauses"] == 1 and b["mean_pause_ms"] == 500.0
    assert b["var_pause_ms2"] is None and b["stddev_pause_ms"] is None
    assert "c" not in got  # filtered before the rollup
