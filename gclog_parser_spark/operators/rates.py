"""Allocation/promotion rates (SURVEY.md §2.4 W1-W3).

The reference's ``RateCalculator`` (RateCalculator.scala:5-43) is a
single-pass stateful scan carrying the *previous* event.  Distributed
re-expression: a ``last(..., ignoreNulls)`` window over
``(url, event_idx)`` — the ignore-nulls trick reproduces the reference's
"AppStopped events do not advance previous" rule (RateCalculator.scala:15)
exactly, while staying fully inside Catalyst (whole-stage codegen window,
no Python).

Semantics pinned by RateCalculatorTest.scala:
* first event: allocated = own heap-before (0 without heap), elapsed =
  own jvmAgeMillis;
* later: allocated = cur.heap_before − prev.heap_after, but 0 unless
  BOTH events carry a heap (CMS events advance `previous` yet allocate 0);
* AppStopped rows: (0, 0) and skipped as `previous`;
* rates are truncating integer division, 0 when elapsed millis is 0
  (GCEventWithRates.scala:26-46).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_AGE_MS = "CAST(jvm_age_seconds * 1000 AS BIGINT)"

# The last non-AppStopped predecessor.  The struct is non-null iff the
# row qualifies, so ignore-nulls skips AppStopped rows even when their
# payload fields are null.
_PREV = (
    "(last(CASE WHEN gc_class <> 'app_stopped' THEN named_struct("
    f"'age_ms', {_AGE_MS}, 'heap_after_bytes', heap_after_bytes) END, true)"
    " OVER (PARTITION BY url ORDER BY event_idx"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"
)

# The rate columns as SQL text, in output order, after the helper
# ``_prev``: every later column reads the columns before it as lateral
# aliases, so the window is evaluated once per row (``with_rates`` drops
# the helper); `div` is integral division (truncates toward zero, JVM
# parity).
_RATES = (
    f"{_PREV} AS _prev",
    "CASE WHEN gc_class = 'app_stopped' THEN 0"
    " WHEN _prev IS NULL THEN coalesce(heap_before_bytes, 0)"
    " WHEN heap_before_bytes IS NOT NULL"
    " AND _prev.heap_after_bytes IS NOT NULL"
    " THEN heap_before_bytes - _prev.heap_after_bytes"
    " ELSE 0 END AS bytes_allocated_since_last",
    "CASE WHEN gc_class = 'app_stopped' THEN 0"
    f" WHEN _prev IS NULL THEN {_AGE_MS}"
    f" ELSE {_AGE_MS} - _prev.age_ms END AS millis_since_last",
    "CASE WHEN millis_since_last = 0 THEN 0"
    " ELSE bytes_allocated_since_last div millis_since_last END"
    " AS heap_allocation_rate",
    "CASE WHEN promoted_bytes IS NOT NULL AND millis_since_last <> 0"
    " THEN promoted_bytes div millis_since_last ELSE 0 END"
    " AS promotion_rate",
)


def with_rates(events: DataFrame) -> DataFrame:
    """events + the four rate columns, in one projection over one
    window on ``(url, event_idx)``."""
    return events.selectExpr("*", *_RATES).drop("_prev")


def pause_ticks(col: str):
    """Seconds as exact 0.1 µs BIGINT ticks, rounded HALF_UP (the
    streaming twins use ``core.to_ticks``, DuckDB ``round``)."""
    return F.round(F.col(col) * 10_000_000).cast("long")


def fullgc_pressure(events: DataFrame) -> DataFrame:
    """Full-GC interarrival ('GC thrash') detector: per url, the gaps
    between consecutive ``Full GC`` events in JVM-age milliseconds —
    a collapsing gap is the classic death-spiral signal (the heap is
    full again moments after a full collection), the page an on-call
    runbook checks right after :func:`heap_trend`'s leak slope.  The
    reference parses Full GC events individually (Parser.scala
    BasicEvent); the interarrival analysis is new surface from the
    north rule's aggregate charter.

    Exact cross-engine math: age ticks are BIGINT truncated
    milliseconds (same rule as gc_rates); min/max/sum of gaps are
    associative BIGINT so map-side partials collapse before the ONE
    url exchange the lag() window already needs; the two derived
    doubles (mean gap, ``full_per_min``) are each one IEEE division
    of identical integers, HALF_UP-rounded to 6 dp.
    ``full_per_min`` is Full GCs per minute of the FULL-GC span
    (first to last Full GC in the log, n_full events over that span)
    — the thrash-intensity reading an on-call wants, intentionally
    not the whole-JVM-lifetime average, and slightly above the
    1/mean-gap rate because the n_full events bound only n_full − 1
    intervals.  A negative lag difference (jvm_age reset mid-file —
    a JVM restart appended to the same url) is treated as a restart
    boundary, not a gap: it is excluded from n_gaps/min/max/mean in
    BOTH engines rather than poisoning min_gap_ms with a negative.
    Logs with a single Full GC have no gaps (NULL mean), zero-span
    logs yield NULL rate — never a divide-by-zero.

    Plan: filter scan-side → ONE exchange on url shared by the lag()
    window and the final groupBy (same partitioning, no second
    shuffle); output volume ∝ JVMs, never ∝ events."""
    full = events.where(
        (F.col("gc_type") == "Full GC")
        & F.col("jvm_age_seconds").isNotNull()
    ).select(
        "url",
        "line_no",
        (F.col("jvm_age_seconds") * 1000).cast("long").alias("age_ms"),
    )
    w = Window.partitionBy("url").orderBy("line_no")
    diff = F.col("age_ms") - F.lag("age_ms").over(w)
    gaps = full.select(
        "url",
        "age_ms",
        F.when(diff >= 0, diff).alias("gap_ms"),
    )
    agg = gaps.groupBy("url").agg(
        F.count("*").alias("n_full"),
        F.count("gap_ms").alias("n_gaps"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.sum("gap_ms").alias("_sum_gap"),
        F.min("age_ms").alias("_first"),
        F.max("age_ms").alias("_last"),
    )
    span = F.col("_last") - F.col("_first")
    return agg.select(
        "url",
        "n_full",
        "n_gaps",
        "min_gap_ms",
        "max_gap_ms",
        F.when(
            F.col("n_gaps") > 0,
            F.round(F.col("_sum_gap") / F.col("n_gaps"), 6),
        ).alias("mean_gap_ms"),
        F.when(
            span > 0,
            F.round((F.col("n_full") * F.lit(60000)).cast("double") / span, 6),
        ).alias("full_per_min"),
    )


def heap_trend(events: DataFrame) -> DataFrame:
    """Per-JVM heap-leak detector: ordinary-least-squares slope of
    post-GC occupancy (heap_after) over JVM age, per url.  A positive
    slope is the 'heap floor keeps rising' signal that precedes an
    OOM — the first chart an ops investigation draws from a GC log
    (the reference exports the raw (age, heap_after) series via its
    TSV output, OutputFormat.scala; the regression is new surface).

    Exact cross-engine math: x = whole JVM seconds (trunc ms div
    1000), y = heap_after KB (div 1024) — both BIGINT — and the OLS
    slope is the exact rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²):
    every sum is associative BIGINT (map-side partials collapse before
    the single url exchange), one IEEE division of identical integers
    at the end, HALF_UP tick rounding.  BIGINT headroom: x ≤ ~5.3e5 s,
    y ≤ ~1.2e7 KB → n·Σxy ≲ 1e17 at 100 events/log.  Plan: filter →
    partial agg → ONE exchange on url; degenerate logs (all events at
    one x, or <2 points) yield NULL slope, never a crash."""
    pts = events.where(
        F.col("heap_after_bytes").isNotNull()
        & F.col("jvm_age_seconds").isNotNull()
    ).select(
        "url",
        F.expr(
            "div(cast(jvm_age_seconds * 1000 as long), 1000)"
        ).alias("x_s"),
        F.expr("div(heap_after_bytes, 1024)").alias("y_kb"),
    )
    agg = pts.groupBy("url").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("x_s").alias("sx"),
        F.sum("y_kb").alias("sy"),
        F.sum(F.col("x_s") * F.col("y_kb")).alias("sxy"),
        F.sum(F.col("x_s") * F.col("x_s")).alias("sxx"),
    )
    num = F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "url",
        "n_points",
        F.when(den > 0, F.round(num / den, 6)).alias("slope_kb_per_s"),
        F.round(F.col("sy") / F.col("n_points"), 3).alias("mean_heap_kb"),
    )


def gc_overhead(events: DataFrame) -> DataFrame:
    """Per-JVM GC overhead — the single number a capacity review asks
    for first: what fraction of the JVM's run was spent paused in GC.
    (The reference exports raw pause series via its TSV/graphite
    formats, OutputFormat.scala; the rollup is new surface under the
    north rule's aggregate charter.)

    Exact cross-engine arithmetic (house style): pause seconds become
    0.1 µs BIGINT ticks (``round(p · 10^7)``), the JVM span is the
    max−min of truncated-ms age over ALL aged events (the whole event
    stream, not just paused rows — a CMS log's concurrent lines
    extend the span), and ``overhead_pct`` is ONE IEEE division
    ``ticks / (span_ms · 100)`` rounded HALF_UP to 6 dp.  Logs with
    zero span or no timed pauses yield NULL pct, never a
    divide-by-zero.

    Plan: scan-side projection → partial agg → ONE exchange on url;
    output ∝ JVMs.  At 100 TB this is the cheapest possible rollup
    shape — no window, no second shuffle."""
    ev = events.where(F.col("jvm_age_seconds").isNotNull()).select(
        "url",
        (F.col("jvm_age_seconds") * 1000).cast("long").alias("age_ms"),
        pause_ticks("pause_seconds").alias("pause_ticks"),
    )
    agg = ev.groupBy("url").agg(
        F.count("pause_ticks").alias("n_pauses"),
        F.sum("pause_ticks").alias("_ticks"),
        (F.max("age_ms") - F.min("age_ms")).alias("span_ms"),
    )
    return agg.select(
        "url",
        "n_pauses",
        F.coalesce("_ticks", F.lit(0).cast("long")).alias(
            "pause_ticks_sum"
        ),
        "span_ms",
        F.when(
            (F.col("span_ms") > 0) & (F.col("n_pauses") > 0),
            F.round(
                F.col("_ticks").cast("double")
                / (F.col("span_ms") * 100),
                6,
            ),
        ).alias("overhead_pct"),
    )


#: CUSUM target and alarm threshold of ``pause_cusum`` and its
#: streaming twin, in ms of pause
CUSUM_TARGET_MS = 100
CUSUM_THRESHOLD_MS = 500


def pause_cusum(events: DataFrame) -> DataFrame:
    """Per-JVM CUSUM drift detector over the pause series — the
    change-point alarm between :func:`heap_trend` (slope over the
    whole log) and ``aggregate.mad_anomalies`` (point outliers):
    CUSUM accumulates small sustained regressions that neither of
    those flags (Page 1954's cumulative-sum rule, the standard SPC
    drift chart).  S_i = max(0, S_{i-1} + (pause_i − target)); alarm
    when S crosses the threshold (``CUSUM_TARGET_MS``,
    ``CUSUM_THRESHOLD_MS``).  (The reference exports raw pause
    series via TSV/graphite, OutputFormat.scala; the detector is new
    surface under the north rule's aggregate charter.)

    The recurrence looks inherently sequential, but the classic prefix
    identity S_i = P_i − min(0, min_{j≤i} P_j) (P = running sum of the
    deviations) turns it into TWO window functions over one (url,
    event_idx) sort — fully distributed, no Python, no iteration.
    All state is exact 0.1 µs BIGINT ticks (the ``gc_overhead``
    convention), so the DuckDB twin matches bit-for-bit.

    Plan: pause rows filter scan-side → ONE url exchange whose sort
    both windows share → codegen projections.  Output one row per
    timed pause with its running CUSUM and alarm flag."""
    target_ticks = CUSUM_TARGET_MS * 10_000  # ms → 0.1 µs ticks
    threshold_ticks = CUSUM_THRESHOLD_MS * 10_000
    pauses = events.where(F.col("pause_seconds").isNotNull()).select(
        "url",
        "event_idx",
        pause_ticks("pause_seconds").alias("pause_ticks"),
    )
    w = (
        Window.partitionBy("url")
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pfx = pauses.withColumn(
        "_p",
        F.sum(F.col("pause_ticks") - F.lit(target_ticks)).over(w),
    )
    cusum = F.col("_p") - F.least(F.lit(0).cast("long"), F.min("_p").over(w))
    return pfx.select(
        "url",
        "event_idx",
        "pause_ticks",
        cusum.alias("cusum_ticks"),
        (cusum >= threshold_ticks).alias("alarm"),
    )


#: the pause-time SLO (fraction of wall time a JVM may spend paused)
#: and the burn rate at which ``slo_burn`` and its streaming twin page
SLO = 0.01
BURN_THRESHOLD = 1.0
#: the short and long burn windows in seconds of JVM age; the long one
#: is a multiple of the short one, so each short window nests in one
SLO_SHORT_S = 60
SLO_LONG_S = 300


def slo_burn(events: DataFrame) -> DataFrame:
    """Multi-window SLO burn-rate alert over GC pause time — the SRE-
    workbook pattern (Beyer et al. 2018, ch. 5) applied to the pause
    budget: with an SLO of ``SLO`` (fraction of wall time the JVM may
    spend paused), the burn rate of a window is paused-share / slo,
    and a page fires only when BOTH a long window (sustained) and its
    current short window (still happening) burn at ≥ ``BURN_THRESHOLD``
    × budget.  Completes the ops-analytics family: gc_overhead is the
    whole-life average, fullgc_pressure the thrash detector,
    pause_cusum the drift alarm — this is the *alert policy* layer
    that decides when the numbers page a human.  (The reference
    exports raw pause series via TSV/graphite, OutputFormat.scala;
    the alert rollup is new surface under the north rule's aggregate
    charter.)

    Windows are fixed buckets of the JVM-age axis (``age_ms div
    (SLO_SHORT_S·1000)``); ``SLO_LONG_S`` is an integer multiple of
    ``SLO_SHORT_S``, so every short bucket nests exactly in one long
    bucket (``s_bucket div (SLO_LONG_S/SLO_SHORT_S)``).  A jvm_age reset
    mid-url (a restart appended to the same log) would fold two runs
    into one window, so consecutive-pause age decreases start a new
    ``run_id`` — the fullgc_pressure restart rule, applied before
    bucketing, in BOTH engines.

    Exact cross-engine math: pause ticks are 0.1 µs BIGINT (the
    gc_overhead convention) summed per bucket; each burn rate is ONE
    IEEE division of that BIGINT by an exact integer denominator
    (``window_s · 10^7 · SLO``, integral for whole-second windows),
    HALF_UP-rounded to 6 dp; the alarm compares the rounded values, so
    Spark and DuckDB agree bit-for-bit.

    Plan: filter + project scan-side → ONE url exchange, shared by
    the restart lag/run-id windows, the (url, run, short-bucket)
    aggregate, AND the long-window sum — Catalyst accepts
    hashpartitioning(url) as clustering for every downstream key set
    (url is a prefix of all of them), so no further shuffle exists in
    the plan (verified: single Exchange, zero Python post-parse).
    Output ∝ short windows with ≥ 1 timed pause — thousands of rows
    per JVM-day at 100 TB, never ∝ events."""
    k = SLO_LONG_S // SLO_SHORT_S
    den_short = int(SLO_SHORT_S * 10_000_000 * SLO)
    den_long = int(SLO_LONG_S * 10_000_000 * SLO)

    pauses = events.where(
        F.col("pause_seconds").isNotNull()
        & F.col("jvm_age_seconds").isNotNull()
    ).select(
        "url",
        "event_idx",
        (F.col("jvm_age_seconds") * 1000).cast("long").alias("age_ms"),
        pause_ticks("pause_seconds").alias("pause_ticks"),
    )
    wo = Window.partitionBy("url").orderBy("event_idx")
    runs = pauses.withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("age_ms") < F.lag("age_ms").over(wo), 1
            ).otherwise(0)
        ).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    short = runs.groupBy(
        "url",
        "run_id",
        F.expr(f"age_ms div {SLO_SHORT_S * 1000}").alias("s_bucket"),
    ).agg(F.sum("pause_ticks").alias("ticks_short"))
    wl = Window.partitionBy(
        "url", "run_id", F.expr(f"s_bucket div {k}")
    )
    burn_s = F.round(F.col("ticks_short") / F.lit(den_short), 6)
    burn_l = F.round(F.col("ticks_long") / F.lit(den_long), 6)
    return (
        short.withColumn("ticks_long", F.sum("ticks_short").over(wl))
        .select(
            "url",
            "run_id",
            (F.col("s_bucket") * SLO_SHORT_S).alias("win_start_s"),
            "ticks_short",
            "ticks_long",
            burn_s.alias("burn_short"),
            burn_l.alias("burn_long"),
            (
                (burn_s >= BURN_THRESHOLD) & (burn_l >= BURN_THRESHOLD)
            ).alias("alarm"),
        )
    )


def fleet_scorecard(events: DataFrame) -> DataFrame:
    """Per-JVM fleet health scorecard — ONE wide row per log that an
    ops dashboard reads across thousands of JVMs: GC overhead pct
    (:func:`gc_overhead`), Full-GC thrash rate
    (:func:`fullgc_pressure`), heap-leak slope (:func:`heap_trend`),
    CUSUM drift-alarm count (:func:`pause_cusum`) and SLO burn-rate
    page count (:func:`slo_burn`), folded into a single ordered
    verdict:

        page    — a multi-window SLO burn alert fired (act now)
        thrash  — ≥ 6 Full GCs per minute of Full-GC span (death
                  spiral; the heap refills moments after each full
                  collection)
        drift   — the CUSUM crossed its threshold (sustained pause
                  regression, no single window bad enough to page)
        watch   — whole-life GC overhead ≥ 1 % of wall
        healthy — none of the above

    Severity is evaluated top-down, each test on the SAME 6 dp-rounded
    values both engines computed, so the verdict is bit-stable; a JVM
    missing a signal (no Full GCs, no aged heap rows) simply fails
    that test — NULL comparisons are false in both engines.

    Plan: every branch aggregates on url, so AQE reuses ONE
    hashpartitioning(url) clustering end-to-end; the final joins are
    per-JVM rollup ⋈ per-JVM rollup (rows ∝ JVMs, co-partitioned —
    no extra exchange).  The events relation is traversed once per
    branch: at 100 TB persist the parsed-events scan (or read the
    routed per-sink Iceberg tables) so the five branches share one
    materialization — the composition itself adds no shuffle.
    """
    ov = gc_overhead(events)
    pr = fullgc_pressure(events).select(
        "url", "n_full", "full_per_min"
    )
    ht = heap_trend(events).select("url", "slope_kb_per_s")
    cu = (
        pause_cusum(events)
        .where(F.col("alarm"))
        .groupBy("url")
        .agg(F.count("*").cast("long").alias("n_drift_alarms"))
    )
    sl = (
        slo_burn(events)
        .where(F.col("alarm"))
        .groupBy("url")
        .agg(F.count("*").cast("long").alias("n_slo_pages"))
    )
    j = (
        ov.join(pr, "url", "left")
        .join(ht, "url", "left")
        .join(cu, "url", "left")
        .join(sl, "url", "left")
        .select(
            "url",
            "n_pauses",
            "overhead_pct",
            F.coalesce("n_full", F.lit(0).cast("long")).alias("n_full"),
            "full_per_min",
            "slope_kb_per_s",
            F.coalesce("n_drift_alarms", F.lit(0).cast("long")).alias(
                "n_drift_alarms"
            ),
            F.coalesce("n_slo_pages", F.lit(0).cast("long")).alias(
                "n_slo_pages"
            ),
        )
    )
    verdict = (
        F.when(F.col("n_slo_pages") > 0, F.lit("page"))
        .when(F.col("full_per_min") >= 6.0, F.lit("thrash"))
        .when(F.col("n_drift_alarms") > 0, F.lit("drift"))
        .when(F.col("overhead_pct") >= 1.0, F.lit("watch"))
        .otherwise(F.lit("healthy"))
    )
    return j.withColumn("verdict", verdict)


def pause_jitter(events: DataFrame) -> DataFrame:
    """Per-JVM pause-time jitter — mean, variance and stddev of the
    pause series in exact-tick arithmetic: latency REGULARITY is its
    own signal next to the level (:func:`gc_overhead`), the tail
    (``gc_pause_histogram`` / percentiles) and the trend
    (:func:`pause_cusum`) — a collector can hold a fine average while
    its variance explodes, which is what an SLO's p99 actually feels.

    Exact cross-engine math (the heap_trend OLS discipline): pauses
    become 0.1 µs BIGINT ticks; Σx and Σx² are associative BIGINT sums
    (map-side partials collapse before the ONE url exchange), and the
    sample variance is the exact rational ``(n·Σx² − (Σx)²) /
    (n·(n−1))`` — ONE IEEE division of identical integers, then ONE
    correctly-rounded ``sqrt`` for the stddev, both HALF_UP 6 dp.
    BIGINT headroom: ticks ≤ ~4·10⁷ per pause → Σx² ≤ ~1.6·10¹⁵ per
    1000-pause log, far under the 9.2·10¹⁸ ceiling.  Single-pause and
    pause-free logs yield NULL variance/stddev, never a
    divide-by-zero.

    Plan: filter + project scan-side → partial agg → one url
    exchange; output ∝ JVMs."""
    p = events.where(F.col("pause_seconds").isNotNull()).select(
        "url",
        pause_ticks("pause_seconds").alias("t"),
    )
    agg = p.groupBy("url").agg(
        F.count("*").cast("long").alias("n_pauses"),
        F.sum("t").alias("sx"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
    )
    var_ms2 = (
        (F.col("n_pauses") * F.col("sxx") - F.col("sx") * F.col("sx"))
        / (F.col("n_pauses") * (F.col("n_pauses") - 1))
        / F.lit(100000000)  # ticks² -> ms²
    )
    return agg.select(
        "url",
        "n_pauses",
        F.round(F.col("sx") / (F.col("n_pauses") * F.lit(10000)), 6).alias(
            "mean_pause_ms"
        ),
        F.when(F.col("n_pauses") > 1, F.round(var_ms2, 6)).alias(
            "var_pause_ms2"
        ),
        F.when(F.col("n_pauses") > 1, F.round(F.sqrt(var_ms2), 6)).alias(
            "stddev_pause_ms"
        ),
    )
