"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship parse → enrich → route → aggregate pipeline
at sf0.001.  ``queries()`` / ``oracle_sql()`` — per-operator Spark
callables and their DuckDB-SQL equivalents (run by the driver at sf0.01,
compared row-count + schema + order-insensitive value-hash).

The GC oracles are a genuinely independent second implementation: the
whole pipeline (deterministic page synthesis, line explode, window event
grouping, regex extraction, rates, region pairing) re-expressed in pure
DuckDB SQL (gclog_parser_spark/oracle.py).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zlib
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gclog_parser_spark import oracle
from gclog_parser_spark.datagen import pages_from_documents
from gclog_parser_spark.operators.aggregate import per_sink_hourly
from gclog_parser_spark.operators.enrich import explode_region_deltas
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import pause_ticks, with_rates
from gclog_parser_spark.operators.route import with_sink


@functools.cache
def _fixture_root() -> str:
    root = tempfile.mkdtemp(prefix="gps_fixtures_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch_dir(prefix: str) -> str:
    """A fresh directory for one query's stream input, checkpoint or
    rewrite, under this process's fixture root: it is removed at exit
    with the root, so a query that raises leaves nothing behind."""
    return tempfile.mkdtemp(prefix=prefix, dir=_fixture_root())


def _fixture_dir(kind: str, sf_dir: str) -> str:
    """Where this process builds its ``kind`` table of ``sf_dir``: one
    per-process root under the temp dir, removed at exit, so a fixture
    is built once per process and never outlives it."""
    key = zlib.crc32(sf_dir.encode())
    return os.path.join(_fixture_root(), f"{kind}_{key}")


def _events(spark: SparkSession, sf_dir: str, mode: str = "gc_line"):
    pages = pages_from_documents(spark, sf_dir)
    return parse_events(pages, mode=mode, stitch="narrow")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse GC events out of Common-Crawl-style pages, enrich
    with the collector-family dim, route, aggregate per (sink, hour)."""
    events = _events(spark, "/root/testdata/sf0.001")
    return per_sink_hourly(with_sink(events))


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_gc_event_counts(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy("gc_class", "gc_type")
        .agg(
            F.count("*").alias("events"),
            F.countDistinct("url").alias("urls"),
        )
    )


def q_gc_events_full(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.select(
        "url",
        "event_idx",
        F.unix_millis("event_time").alias("event_epoch_ms"),
        "tz_offset",
        "jvm_age_seconds",
        "gc_class",
        "gc_type",
        "gc_cause",
        "heap_before_bytes",
        "heap_after_bytes",
        "heap_max_bytes",
        "heap_reclaimed_bytes",
        "pause_seconds",
        F.size("generations").alias("gen_count"),
        "promoted_bytes",
        "desired_survivor_size",
        "new_threshold",
        "stopped_seconds",
        "seconds_to_stop",
    )


def q_gc_events_full_window(spark, sf_dir):
    """Same projection as gc_events_full but through the WINDOW stitch
    strategy (posexplode → classify → running-sum grouping → block
    re-assembly) — both physical plans must match the oracle."""
    pages = pages_from_documents(spark, sf_dir)
    ev = parse_events(pages, stitch="window")
    return ev.select(
        "url",
        "event_idx",
        F.unix_millis("event_time").alias("event_epoch_ms"),
        "tz_offset",
        "jvm_age_seconds",
        "gc_class",
        "gc_type",
        "gc_cause",
        "heap_before_bytes",
        "heap_after_bytes",
        "heap_max_bytes",
        "heap_reclaimed_bytes",
        "pause_seconds",
        F.size("generations").alias("gen_count"),
        "promoted_bytes",
        "desired_survivor_size",
        "new_threshold",
        "stopped_seconds",
        "seconds_to_stop",
    )


def q_gc_limit_per_log(spark, sf_dir):
    """Reference --limit n (Main.scala:28,65-67): first 3 events per
    log in log order."""
    from gclog_parser_spark.operators.limit import limit_per_log

    return limit_per_log(_events(spark, sf_dir), 3).select(
        "url", "event_idx", "gc_type", "jvm_age_seconds"
    )


def q_gc_tsv_export(spark, sf_dir):
    """Distributed TsvOutputFormat lines vs the independent DuckDB
    pair-builder oracle (oracle.tsv_export_sql); byte-level reference
    goldens are additionally pinned by tests/test_sources_export."""
    from gclog_parser_spark.operators.export import tsv_export
    from gclog_parser_spark.operators.rates import with_rates

    return tsv_export(with_rates(_events(spark, sf_dir)))


def q_gc_graphite_export(spark, sf_dir):
    from gclog_parser_spark.operators.export import graphite_export

    ev = _events(spark, sf_dir).where(F.col("event_time").isNotNull())
    return graphite_export(ev)


def _fixture_pages(spark, url: str, hour: int, text: str):
    """One-row PAGES_SCHEMA corpus of a fixture log, stamped 2026-08-17
    ``hour``:00 — the row the fixture-literal DuckDB oracles rebuild."""
    from datetime import datetime

    from gclog_parser_spark.schema import PAGES_SCHEMA

    return spark.createDataFrame(
        [(url, datetime(2026, 8, 17, hour, 0, 0), None, text, "en")],
        PAGES_SCHEMA,
    )


def _fixture_parse(spark, fixture_text: str, url: str):
    """One-page corpus from a fixture literal → the common parsed
    projection compared against the fixture-literal DuckDB oracles
    (superset formats absent from the frozen pages datagen)."""
    pages = _fixture_pages(spark, url, 1, fixture_text)
    ev = parse_events(pages, require_marker=False)
    return ev.select(
        "event_idx",
        F.unix_millis("event_time").alias("event_epoch_ms"),
        "jvm_age_seconds",
        "gc_class",
        "gc_type",
        "gc_cause",
        "heap_before_bytes",
        "heap_after_bytes",
        "heap_max_bytes",
        pause_ticks("pause_seconds").alias("pause_ticks"),
    )


def q_gc_unified_parse(spark, sf_dir):
    """JDK 9+ unified-logging lines parsed by the engine vs an
    independent DuckDB regexp reimplementation."""
    from gclog_parser_spark.fixtures import UNIFIED_LOG

    return _fixture_parse(spark, UNIFIED_LOG, "uni://fixture/0")


def q_gc_g1_parse(spark, sf_dir):
    """Legacy G1 collector lines (superset) vs the independent DuckDB
    regexp reimplementation."""
    from gclog_parser_spark.fixtures import G1LOG

    return _fixture_parse(spark, G1LOG, "g1://fixture/0")


def q_gc_zgc_parse(spark, sf_dir):
    """ZGC (percent-occupancy heap, generational seconds suffix) +
    Shenandoah phases under unified logging — superset, independently
    oracled.  ZGC heap_max is NULL by design (no capacity in the
    summary line)."""
    from gclog_parser_spark.fixtures import ZGC_LOG

    ev = _fixture_parse(spark, ZGC_LOG, "zgc://fixture/0")
    return ev.withColumn(
        "heap_max_bytes", F.col("heap_max_bytes").cast("long")
    )


def q_gc_zgc_gen_parse(spark, sf_dir):
    """JDK 21+ GENERATIONAL ZGC (-Xlog:gc): Minor/Major Collection
    start lines (heap-less phase events) + completion lines
    (percent-occupancy transition, seconds suffix), with interleaved
    GC ids and [gc,phases] y:/O: generation sub-phases dropped as
    metadata — through the SAME unified classifier as gc_zgc_parse
    (core.parse_unified_line).  Superset: the reference grammar
    predates ZGC; charter is the north rule's unified-shapes clause."""
    from gclog_parser_spark.fixtures import ZGC_GEN_LOG

    ev = _fixture_parse(spark, ZGC_GEN_LOG, "zgcgen://fixture/0")
    return ev.withColumn(
        "heap_max_bytes", F.col("heap_max_bytes").cast("long")
    )


def q_gc_unified_cms_parse(spark, sf_dir):
    """JDK 9-13 CMS phases under unified logging (initial-mark/remark
    heap triples + concurrent ms phases) — superset breadth, same
    independent parameterized oracle builder."""
    from gclog_parser_spark.fixtures import CMS_UNIFIED_LOG

    return _fixture_parse(spark, CMS_UNIFIED_LOG, "cmsu://fixture/0")


def q_gc_unified_regions(spark, sf_dir):
    """JDK 9+ unified-logging heap-region transitions ([gc,heap]
    `GC(n) Eden regions: 24->0(153)` lines) — the unified twin of the
    legacy `{Heap before/after}` mode (gc_region_deltas), parsed by a
    pure-codegen regexp path and independently re-derived in DuckDB."""
    from gclog_parser_spark.fixtures import UNIFIED_HEAP_LOG
    from gclog_parser_spark.operators.enrich import unified_region_deltas

    return unified_region_deltas(
        _fixture_pages(spark, "uniheap://fixture/0", 4, UNIFIED_HEAP_LOG)
    )


def _safepoint_pages(spark):
    from gclog_parser_spark.fixtures import SAFEPOINT_LOG

    return _fixture_pages(spark, "sp://fixture/0", 5, SAFEPOINT_LOG)


def q_gc_safepoints(spark, sf_dir):
    """JDK 13+ unified-logging [safepoint] lines (-Xlog:safepoint) —
    per-VM-operation rows with exact nanosecond integers (optional
    JDK 16+ Cleanup field; truncated lines dropped by the filter).
    The per-operation superset of the legacy TotalAppStoppedTime
    aggregate (reference Parser.scala P13); parsed by a pure-codegen
    regexp path and independently re-derived in DuckDB."""
    from gclog_parser_spark.operators.enrich import parse_safepoints

    return parse_safepoints(_safepoint_pages(spark))


def _stall_pages(spark):
    from gclog_parser_spark.fixtures import ZGC_STALL_LOG

    return _fixture_pages(spark, "zstall://fixture/0", 6, ZGC_STALL_LOG)


def q_gc_zgc_stalls(spark, sf_dir):
    """ZGC allocation/relocation stall lines (-Xlog:gc, single-gen
    and JDK 21+ generational): per-stalled-thread rows with the
    duration as exact DECIMAL-cast microsecond BIGINTs; truncated
    stall lines dropped by the regex anchor.  SUPERSET — the
    reference grammar predates ZGC; parsed by a zero-exchange
    codegen regexp path and independently re-derived in DuckDB
    (operators/enrich.parse_gc_stalls)."""
    from gclog_parser_spark.operators.enrich import parse_gc_stalls

    return parse_gc_stalls(_stall_pages(spark))


def q_gc_zgc_stall_stats(spark, sf_dir):
    """Per-(url, stall-kind) ZGC stall rollup: count, distinct
    stalled threads, total and worst stall microseconds — exact
    BIGINT sums/maxes, scan -> partial agg -> one exchange
    (operators/enrich.gc_stall_stats)."""
    from gclog_parser_spark.operators.enrich import gc_stall_stats

    return gc_stall_stats(_stall_pages(spark))


def q_gc_stall_rootcause(spark, sf_dir):
    """Stall → nearest preceding COMPLETED GC cycle attribution
    (round-5): each ZGC allocation/relocation stall as-of joined by
    log position to the cycle that failed to keep up (gc_id, kind,
    cause, exact µs duration); startup stalls before any completed
    cycle keep NULL cause columns.  One url exchange shared by the
    last(ignoreNulls) carry-forward window — no join shuffle
    (operators/enrich.stall_rootcause)."""
    from gclog_parser_spark.operators.enrich import stall_rootcause

    return stall_rootcause(_stall_pages(spark))


def q_gc_g1_evac_failures(spark, sf_dir):
    """G1 "to-space exhausted" evacuation failures, both dialects
    (legacy inline tag, unified standalone GC(n) line) — per-failure
    rows with trunc-ms ages, zero-exchange codegen parse
    (operators/enrich.g1_evac_failures)."""
    from gclog_parser_spark.fixtures import G1_EVAC_LOG
    from gclog_parser_spark.operators.enrich import g1_evac_failures

    return g1_evac_failures(
        _fixture_pages(spark, "g1evac://fixture/0", 7, G1_EVAC_LOG)
    )


def _g1_humongous_pages(spark):
    from gclog_parser_spark.fixtures import G1_HUMONGOUS_LOG

    return _fixture_pages(spark, "g1hum://fixture/0", 7, G1_HUMONGOUS_LOG)


def q_gc_g1_humongous(spark, sf_dir):
    """G1 humongous-allocation activity, both dialects (round-5):
    legacy/unified Humongous Allocation pause causes, unified per-GC
    'Humongous regions: X->Y' accounting, and the gc,init region-size
    line — one typed row per matched line, zero-exchange codegen parse
    (operators/enrich.g1_humongous)."""
    from gclog_parser_spark.operators.enrich import g1_humongous

    return g1_humongous(_g1_humongous_pages(spark))


def q_gc_g1_humongous_stats(spark, sf_dir):
    """Per-JVM humongous rollup — pause count, region-line count, peak
    humongous regions, positive-delta regions reclaimed, and reclaimed
    BYTES via the log's own Heap Region Size line (NULL when absent);
    exact BIGINT, one url exchange
    (operators/enrich.g1_humongous_stats)."""
    from gclog_parser_spark.operators.enrich import g1_humongous_stats

    return g1_humongous_stats(_g1_humongous_pages(spark))


def q_gc_safepoint_stats(spark, sf_dir):
    """Per-VM-op safepoint rollup: count, stopped ns, worst
    time-to-safepoint (TTSP tail), cleanup, wall — exact BIGINT
    sums/maxes over the pre-window matched relation (scan → partial
    agg → one sp_op exchange)."""
    from gclog_parser_spark.operators.enrich import safepoint_stats

    return safepoint_stats(_safepoint_pages(spark))


def q_gc_cpu_times(spark, sf_dir):
    """GC CPU accounting over the corpus: legacy `[Times: user= sys=,
    real=]` trailers (the reference reads only real= as the CMS pause,
    Parser.scala:48 — user/sys are new surface) + the JDK 9+ [gc,cpu]
    twin, per-url exact centisecond sums and the floor((user+sys)*1000
    /real) parallelism ratio (operators/enrich.cpu_times)."""
    from gclog_parser_spark.datagen import pages_from_documents
    from gclog_parser_spark.operators.enrich import cpu_times

    return cpu_times(pages_from_documents(spark, sf_dir))


def q_gc_heap_trend(spark, sf_dir):
    """Heap-leak detector: per-url exact-integer OLS slope of post-GC
    occupancy over JVM age (operators/rates.heap_trend) — the 'heap
    floor keeps rising' pre-OOM signal.  All sums BIGINT map-side
    partials, one url exchange, one IEEE division at the end."""
    from gclog_parser_spark.operators.rates import heap_trend

    return heap_trend(_events(spark, sf_dir))


def q_gc_cms_spans(spark, sf_dir):
    """Concurrent-phase spans: pair CMS-concurrent-X-start with the
    next X completion per (url, phase) — the generic point-events →
    intervals assembly (operators/aggregate.cms_spans); exact BIGINT
    ms durations, one (url, phase) window exchange."""
    from gclog_parser_spark.operators.aggregate import cms_spans

    return cms_spans(_events(spark, sf_dir))


def q_gc_fullgc_pressure(spark, sf_dir):
    """Full-GC interarrival thrash detector: per-url min/max/mean gap
    between consecutive Full GCs plus Full-GCs-per-minute of JVM span
    (operators/rates.fullgc_pressure) — exact BIGINT ms ticks, one
    url exchange shared by the lag window and the rollup."""
    from gclog_parser_spark.operators.rates import fullgc_pressure

    return fullgc_pressure(_events(spark, sf_dir))


def q_gc_pause_cusum(spark, sf_dir):
    """Per-JVM CUSUM drift detector over pause series (round-5):
    Page's cumulative-sum rule as TWO window functions via the prefix
    identity S_i = P_i - min(0, min_j<=i P_j) — exact 0.1 us BIGINT
    ticks, one url exchange shared by both windows
    (operators/rates.pause_cusum)."""
    from gclog_parser_spark.operators.rates import pause_cusum

    return pause_cusum(_events(spark, sf_dir))


def q_gc_stream_cusum(spark, sf_dir):
    """Streaming CUSUM drift alarm (round-5): pages stream → parse →
    applyInPandasWithState CUSUM with O(1) two-BIGINT-word state per
    JVM (streaming/stateful.stateful_cusum) — value-checked against
    the SAME DuckDB oracle as the batch window operator, so stream
    and batch are interchangeable tick-for-tick."""
    from gclog_parser_spark.streaming.stateful import stateful_cusum
    from gclog_parser_spark.streaming.stream import stream_pages

    base = _scratch_dir("gps_stream_")
    inp = f"{base}/pages"
    pages_from_documents(spark, sf_dir).repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_cusum_{_STREAM_SEQ[0]}"
    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=2),
        stitch="narrow",
    )
    q = (
        stateful_cusum(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("gc_stream_cusum: stream timed out (600 s)")
    return spark.table(qname).select(
        "url", "event_idx", "pause_ticks", "cusum_ticks", "alarm"
    )


def q_gc_stream_jitter(spark, sf_dir):
    """Streaming pause-jitter dashboard row (round-5): pages stream →
    parse → applyInPandasWithState with THREE BIGINT words of state
    (n, Σx, Σx² — exact tick sums, no float state) emitting one
    cumulative snapshot per JVM per batch
    (streaming/stateful.stateful_jitter) — whole-log-per-page batches
    make that exactly one row per url, value-checked against the SAME
    DuckDB oracle as the batch operator (gc_pause_jitter)."""
    from gclog_parser_spark.streaming.stateful import stateful_jitter
    from gclog_parser_spark.streaming.stream import stream_pages

    base = _scratch_dir("gps_stream_")
    inp = f"{base}/pages"
    pages_from_documents(spark, sf_dir).repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_jitter_{_STREAM_SEQ[0]}"
    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=2),
        stitch="narrow",
    )
    q = (
        stateful_jitter(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("gc_stream_jitter: stream timed out (600 s)")
    return spark.table(qname).select(
        "url", "n_pauses", "mean_pause_ms", "var_pause_ms2",
        "stddev_pause_ms",
    )


def q_gc_slo_burn(spark, sf_dir):
    """Multi-window SLO burn-rate alert (round-5): short/long fixed
    age-bucket windows over 0.1 us pause ticks, restart-run split,
    one IEEE division per burn rate, alarm only when BOTH windows
    burn >= threshold x budget — the SRE-workbook alert-policy layer
    over gc_overhead/fullgc_pressure/pause_cusum
    (operators/rates.slo_burn)."""
    from gclog_parser_spark.operators.rates import slo_burn

    return slo_burn(_events(spark, sf_dir))


def q_gc_pause_jitter(spark, sf_dir):
    """Per-JVM pause jitter (round-5): mean/variance/stddev of the
    pause series from exact 0.1 µs BIGINT Σx/Σx² (the heap_trend OLS
    discipline) — latency REGULARITY next to the level (gc_overhead),
    tail (histogram/percentiles) and trend (cusum); one url exchange
    (operators/rates.pause_jitter)."""
    from gclog_parser_spark.operators.rates import pause_jitter

    return pause_jitter(_events(spark, sf_dir))


def q_gc_fleet_scorecard(spark, sf_dir):
    """Per-JVM fleet health scorecard (round-5): gc_overhead +
    fullgc_pressure + heap_trend + pause_cusum alarms + slo_burn pages
    folded into one wide row per log with an ordered verdict
    (page > thrash > drift > watch > healthy), every test on the same
    6 dp-rounded values both engines computed.  All branches cluster
    on url; the composition joins per-JVM rollups only
    (operators/rates.fleet_scorecard)."""
    from gclog_parser_spark.operators.rates import fleet_scorecard

    return fleet_scorecard(_events(spark, sf_dir))


def q_gc_stream_slo_burn(spark, sf_dir):
    """Streaming SLO burn-rate pager (round-5): pages stream → parse →
    applyInPandasWithState with the OPEN long window as the only state
    (run_id, last age, long bucket, ≤ k short tick sums per live JVM);
    windows emit when they close.  Value-checked against the SAME
    DuckDB oracle as the batch operator (oracle.slo_burn_sql), so the
    nightly scan and the live alert feed are interchangeable."""
    from gclog_parser_spark.streaming.stateful import stateful_slo_burn
    from gclog_parser_spark.streaming.stream import stream_pages

    base = _scratch_dir("gps_stream_")
    inp = f"{base}/pages"
    pages_from_documents(spark, sf_dir).repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_slo_{_STREAM_SEQ[0]}"
    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=2),
        stitch="narrow",
    )
    q = (
        stateful_slo_burn(stream, flush_on_batch_end=True)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("gc_stream_slo_burn: stream timed out (600 s)")
    return spark.table(qname).select(
        "url", "run_id", "win_start_s", "ticks_short", "ticks_long",
        "burn_short", "burn_long", "alarm",
    )


def q_gc_overhead(spark, sf_dir):
    """Per-JVM GC overhead pct: 0.1 µs pause ticks over the whole
    aged-event span, one IEEE division, scan -> partial agg -> one
    url exchange (operators/rates.gc_overhead)."""
    from gclog_parser_spark.operators.rates import gc_overhead

    return gc_overhead(_events(spark, sf_dir))


def q_gc_sessions(spark, sf_dir):
    """Gaps-and-islands sessionization of the event stream (activity
    bursts per JVM, 30 s age gap) — oracled as the identical
    lag-flag/running-sum SQL."""
    from gclog_parser_spark.operators.aggregate import session_stats

    return session_stats(_events(spark, sf_dir))


def q_gc_rates(spark, sf_dir):
    return with_rates(_events(spark, sf_dir)).select(
        "url",
        "event_idx",
        "bytes_allocated_since_last",
        "millis_since_last",
        "heap_allocation_rate",
        "promotion_rate",
    )


def q_gc_pause_by_family(spark, sf_dir):
    return (
        with_sink(_events(spark, sf_dir))
        .groupBy("family")
        .agg(
            F.count("*").alias("events"),
            F.sum(pause_ticks("pause_seconds")).alias("pause_ticks_sum"),
        )
    )


def q_gc_per_sink_hourly(spark, sf_dir):
    agg = per_sink_hourly(with_sink(_events(spark, sf_dir)), exact=True)
    return agg.select(
        "sink",
        F.unix_seconds("hour").alias("hour_epoch"),
        "events",
        "heap_reclaimed_sum",
        F.round("pause_p50", 6).alias("pause_p50"),
        F.round("pause_p99", 6).alias("pause_p99"),
    )


def q_gc_per_sink_hourly_salted(spark, sf_dir):
    """Two-stage salted aggregation must equal the direct aggregate
    (same oracle shape, counts+sums only)."""
    from gclog_parser_spark.operators.aggregate import (
        per_sink_hourly_salted,
    )

    agg = per_sink_hourly_salted(with_sink(_events(spark, sf_dir)))
    return agg.select(
        "sink",
        F.unix_seconds("hour").alias("hour_epoch"),
        "events",
        "heap_reclaimed_sum",
    )


def q_gc_events_per_collector(spark, sf_dir):
    from gclog_parser_spark.operators.aggregate import (
        events_per_collector,
    )

    return events_per_collector(with_sink(_events(spark, sf_dir)))


_STREAM_SEQ = [0]


def q_gc_stream_hourly(spark, sf_dir):
    """Structured Streaming in the correctness gate: pages stream
    (availableNow file source) → parse → watermarked per-(sink, hour)
    windowed aggregate, compared against the SAME DuckDB oracle as the
    batch aggregate — stream results must equal batch results."""
    from gclog_parser_spark.streaming.stream import run_hourly_stream

    base = _scratch_dir("gps_stream_")
    inp = f"{base}/pages"
    pages_from_documents(spark, sf_dir).repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_hourly_{_STREAM_SEQ[0]}"
    q = run_hourly_stream(
        spark, inp, f"{base}/ckpt", query_name=qname
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("gc_stream_hourly: stream timed out (600 s)")
    # memory-sink rows live in the driver — the staging dir can go now
    out = spark.table(qname)
    return out.select(
        "sink",
        F.unix_seconds("hour").alias("hour_epoch"),
        "events",
        "heap_reclaimed_sum",
    )


def q_gc_appstopped(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("gc_class") == "app_stopped")
    return ev.agg(
        F.count("*").alias("events"),
        F.sum(pause_ticks("stopped_seconds")).alias("stopped_ticks_sum"),
        F.sum(pause_ticks("seconds_to_stop")).alias("to_stop_ticks_sum"),
    )


def q_gc_region_deltas(spark, sf_dir):
    detailed = _events(spark, sf_dir, mode="heap_stats").where(
        F.col("gc_class") == "detailed"
    )
    w = Window.partitionBy("url").orderBy("line_no")
    detailed = detailed.withColumn(
        "block_idx", (F.row_number().over(w) - 1).cast("int")
    )
    flat = detailed.select(
        "url", "block_idx", F.posexplode("regions").alias("region_pos", "r")
    )
    return flat.select(
        "url",
        "block_idx",
        "region_pos",
        F.col("r.name").alias("region_name"),
        F.col("r.used_before").alias("used_before"),
        F.col("r.used_after").alias("used_after"),
        F.col("r.capacity_before").alias("capacity_before"),
        F.col("r.capacity_after").alias("capacity_after"),
    )


def q_gc_region_kind_rollup(spark, sf_dir):
    flat = explode_region_deltas(_events(spark, sf_dir, mode="heap_stats"))
    to_b = (
        F.regexp_extract("used_before", r"(\d+)", 1).cast("long")
        * F.when(F.col("used_before").endswith("K"), 1024)
        .when(F.col("used_before").endswith("M"), 1024 * 1024)
        .when(F.col("used_before").endswith("G"), 1024**3)
        .otherwise(1)
    )
    return flat.groupBy("kind").agg(
        F.count("*").alias("regions"),
        F.sum(to_b).alias("used_before_bytes_sum"),
    )


def q_gc_heap_mode_counts(spark, sf_dir):
    return (
        _events(spark, sf_dir, mode="heap_stats")
        .groupBy("gc_class")
        .agg(F.count("*").alias("events"))
    )


def q_gc_heap_mode_counts_window(spark, sf_dir):
    """The hard parse path in the gate: `{Heap before/after}` block
    mode THROUGH THE WINDOW STITCH (brace-depth grouping across the
    exploded line stream) — same oracle as the narrow-path twin, so the
    two physical strategies are proven equal at driver scale."""
    pages = pages_from_documents(spark, sf_dir)
    return (
        parse_events(pages, mode="heap_stats", stitch="window")
        .groupBy("gc_class")
        .agg(F.count("*").alias("events"))
    )


# --- relational operators over the TPC-H-ish tables (SURVEY.md §2.5) --------


def q_rel_agg_lineitem(spark, sf_dir):
    """TPC-H Q1-shaped aggregation (group + multi-agg, exact sums as
    scaled BIGINT)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .alias("sum_price_cents"),
            F.count("*").alias("count_order"),
        )
    )


def q_rel_topk_orders(spark, sf_dir):
    """Top-3 orders per customer (window + rank; deterministic
    tie-break)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey")
    )


def q_rel_join_agg(spark, sf_dir):
    """Broadcast join orders→customer + rollup by market segment."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("revenue_cents"),
        )
    )


def q_rel_semi_join(spark, sf_dir):
    """Left SEMI join (EXISTS): customers with ≥1 urgent order — the
    dim stays unduplicated, probe side streams."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(
            urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
        )
        .select("c_custkey", "c_mktsegment")
    )


def q_rel_anti_join(spark, sf_dir):
    """Left ANTI join (NOT EXISTS): customers with no urgent order
    (every customer has SOME order in this datagen, so the urgent
    filter keeps the result non-trivial)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey")
    )


def q_rel_shuffle_join(spark, sf_dir):
    """Fact-to-fact SHUFFLE join (TPC-H Q4/Q12 shape, north rule
    BASELINE.json:2): lineitem ⋈ orders on the orderkey — both sides
    are fact-sized, so the right 100 TB plan is a SortMergeJoin with
    both sides hash-partitioned on the key (AQE handles skew at
    runtime); the ``merge`` hints pin that strategy so the driver-scale
    run exercises the same physical path a 100 TB run would (without
    them Catalyst would broadcast the sandbox-small side).  Post-join
    filter (late lines: shipped after the order date) + per-priority
    aggregate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        li.hint("merge")
        .join(
            orders.hint("merge"),
            li.l_orderkey == orders.o_orderkey,
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


def _bucketed_pair(spark, sf_dir):
    """Bucketed twins of lineitem/orders (8 buckets on the orderkey,
    sorted within buckets), created once per session per sf_dir via
    saveAsTable — the layout investment a 100 TB warehouse makes so
    every subsequent orderkey join is exchange-free.  Their files live
    in the process's fixture root, not the warehouse dir."""
    out = []
    for table, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        path = _fixture_dir(f"gps_bkt_{table}", sf_dir)
        name = os.path.basename(path)
        if not spark.catalog.tableExists(name):
            (
                spark.read.parquet(f"{sf_dir}/{table}.parquet")
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .format("parquet")
                .option("path", path)
                .saveAsTable(name)
            )
        out.append(spark.table(name))
    return tuple(out)


def q_rel_bucketed_join(spark, sf_dir):
    """Shuffle-FREE fact⋈fact join via bucketing: both tables are
    written bucketed (8 buckets) and sorted on the orderkey, so the
    SortMergeJoin consumes co-located buckets directly — ZERO Exchange
    in the join plan (pinned in tests/test_plan_quality.py).  At 100 TB
    this converts every repeated orderkey join from a full two-sided
    shuffle into a scan; the write-side bucketing cost is paid once.
    The merge hints keep Catalyst from broadcasting the sandbox-small
    side so the driver-scale run exercises the bucketed-SMJ path."""
    li, orders = _bucketed_pair(spark, sf_dir)
    return (
        li.hint("merge")
        .join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
            F.countDistinct("o_custkey").alias("customers"),
        )
    )


def q_rel_bloom_join(spark, sf_dir):
    """Runtime Bloom-filter join reduction (operators/bloomjoin.py):
    the urgent-orders keys are sketched into a fixed 8 KiB bitmap
    (bounded O(m_bits) driver state, same legitimacy class as the KMV
    sketch) and the lineitem FACT side is filtered by codegen bit math
    BELOW its join exchange — the rows a 100 TB cluster never pays to
    shuffle.  Bloom filters have false positives but never false
    negatives, so the post-join result is exactly the plain join the
    DuckDB oracle runs; the ``merge`` hints keep the fact⋈fact
    SortMergeJoin path a real cluster would take."""
    from gclog_parser_spark.operators.bloomjoin import bloom_reduce

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lif = bloom_reduce(li, "l_orderkey", orders, "o_orderkey")
    return (
        lif.hint("merge")
        .join(orders.hint("merge"), lif.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


def q_rel_asof_join(spark, sf_dir):
    """Backward AS-OF join (pandas merge_asof / kdb aj semantics —
    Spark has no primitive for it): each click joined to the latest
    at-or-before purchase of the same user, via the union-tag +
    running last(ignoreNulls) window plan (ONE key exchange, O(1)
    window state; operators/temporal.py).  The DuckDB oracle uses its
    native ASOF LEFT JOIN — a genuinely different algorithm."""
    from gclog_parser_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    j = asof_join(
        clicks, purch, key="user_id",
        right_cols=["purchase_id", "purchase_value"],
    )
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("asof_purchase_id").alias("purchase_id"),
        F.col("asof_purchase_value").alias("purchase_value"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("us_since"),
    )


def q_rel_range_join(spark, sf_dir):
    """Interval range join with NO equi key (incident windows ⊇
    events), bucketed to an equi-join instead of the BNLJ plan a bare
    inequality join gets (operators/temporal.py): error events open a
    10-minute window; every event inside any window is attributed to
    it, then aggregated per incident.  Oracle = DuckDB's native
    inequality (IE) join."""
    from gclog_parser_spark.operators.temporal import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    inc = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("istart"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("iend"),
    )
    facts = ev.select("event_id", "ts", "user_id", "value")
    return (
        range_join(facts, inc, bucket_secs=600)
        .groupBy("incident_id", "istart")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_text_decontam(spark, sf_dir):
    """Benchmark decontamination (eval-overlap scan): corpus docs
    sharing ≥1 distinct word 5-gram with the held-out benchmark slice
    (doc_id % 17 == 0), flagged at ≥3 shared shingles.  The benchmark
    shingle set is broadcast — the corpus side never shuffles until
    the per-doc count."""
    from gclog_parser_spark.operators.textstats import ngram_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return ngram_decontaminate(corpus, bench, k=5, min_hits=3)


def q_text_decontam_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination twin of text_decontam, for
    eval sets too big to broadcast: corpus shingles pass a codegen
    Bloom sketch of the benchmark shingles scan-side (before the
    only corpus exchange), then a shuffle-hash equi-join strips the
    false positives — identical results, same oracle
    (operators/textstats.ngram_decontaminate_bloom)."""
    from gclog_parser_spark.operators.textstats import (
        ngram_decontaminate_bloom,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return ngram_decontaminate_bloom(corpus, bench, k=5, min_hits=3)


def q_corpus_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch corpus permutation (epoch 2): portable
    md5-keyed order, shard by modulus, per-shard rank — no global
    sort, one shard exchange + per-partition window sort; retries and
    re-runs are bit-identical (operators/sampling.epoch_shuffle)."""
    from gclog_parser_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(_docs(spark, sf_dir), epoch=2)


def q_text_c4_lines(spark, sf_dir):
    """C4 line-level cleaning verdicts (Raffel et al. 2020 rules:
    terminal punctuation, >=5 words, no code-ish lines; doc dropped
    under 3 surviving lines or on 'lorem ipsum') — pure scan-side
    lambda pipeline, zero exchanges
    (operators/textstats.c4_line_filter)."""
    from gclog_parser_spark.operators.textstats import c4_line_filter

    return c4_line_filter(_docs(spark, sf_dir))


def q_text_encoding(spark, sf_dir):
    """Encoding-health stats per doc (U+FFFD replacement chars, raw C0
    controls, Latin-1 double-encoding signature) — codegen length
    deltas, integer-exact bad flag, zero exchanges
    (operators/textstats.encoding_stats)."""
    from gclog_parser_spark.operators.textstats import encoding_stats

    return encoding_stats(_docs(spark, sf_dir))


def q_text_lang_agreement(spark, sf_dir):
    """Declared-vs-predicted language confusion matrix (crawl lang
    metadata audit): lang_id argmax scan-side, one pair-key exchange,
    window row totals, single IEEE division
    (operators/textstats.lang_agreement)."""
    from gclog_parser_spark.operators.textstats import lang_agreement

    return lang_agreement(_docs(spark, sf_dir))


def q_corpus_ngram_diversity(spark, sf_dir):
    """Per-source distinct-over-total bigram ratio (self-BLEU cousin;
    template-farm detector) — exact BIGINT counts, one division
    (operators/textstats.ngram_diversity)."""
    from gclog_parser_spark.operators.textstats import ngram_diversity

    return ngram_diversity(_docs(spark, sf_dir), k=2)


def q_rel_sliding_window(spark, sf_dir):
    """Sliding event-time windows (10 min / 5 min slide) — the
    overlapping-window aggregation the tumbling hourly rollups can't
    express; scan-side window assignment, one partial-aggregated
    exchange.  Oracle re-derives the window assignment as a two-offset
    UNION ALL (each row belongs to exactly duration/slide windows)."""
    from gclog_parser_spark.operators.aggregate import sliding_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type", "value"
    )
    return sliding_counts(ev)


def q_gc_pause_histogram(spark, sf_dir):
    """Fixed-width pause-time histogram over parsed GC events (20 bins
    on [0, 4) s, overflow clamped) — scan-side binning, one ~20-key
    exchange."""
    from gclog_parser_spark.operators.aggregate import value_histogram

    return value_histogram(
        _events(spark, sf_dir), "pause_seconds", lo=0.0, hi=4.0, n_bins=20
    )


def q_text_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by rational-idf tf-idf
    (deterministic cross-engine — no transcendental log), vocab
    broadcast back onto the tf relation."""
    from gclog_parser_spark.operators.textstats import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), k=3)


def q_text_ngrams(spark, sf_dir):
    """Corpus-level bigram vocabulary: global count + exact document
    frequency per n-gram, top-50 by frequency (the LM-vocab /
    blocklist builder) — explode scan-side, two aggregated exchanges
    over distinct n-grams, distributed TakeOrdered cut."""
    from gclog_parser_spark.operators.textstats import corpus_ngrams

    return corpus_ngrams(_docs(spark, sf_dir), k=2, top=50)


#: heavy-hitter frequency cut: items with count > n_words / HH_K
HH_K = 30


def q_text_heavy_hitters(spark, sf_dir):
    """EXACT heavy-hitter words (count·k > n, k=30) via the
    bounded-state two-pass plan — per-partition Misra–Gries candidate
    sketch (state ≤ capacity counters however large the partition),
    then an exact semi-joined verification count; the oracle is the
    unbounded GROUP BY/HAVING the sketch replaces at 10^11 distinct
    keys."""
    from gclog_parser_spark.operators.aggregate import heavy_hitters
    from gclog_parser_spark.operators.dedup import _words

    words = _docs(spark, sf_dir).select(
        F.explode(_words(F.col("text"))).alias("w")
    )
    return heavy_hitters(words, "w", k=HH_K).withColumnRenamed(
        "item", "word"
    )


def q_rel_json_extract(spark, sf_dir):
    """Semi-structured extraction (every log/telemetry pipeline's
    bread and butter): pull the numeric ``k`` out of the JSON ``props``
    column scan-side (`get_json_object` — codegen, no Python), then an
    ordinary partial-aggregated group-by.  Oracle uses DuckDB's JSON
    extension — an independent JSON parser."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count_distinct("k").alias("distinct_k"),
        )
    )


def q_rel_global_topn(spark, sf_dir):
    """Global top-100 by (price DESC, key ASC): Spark plans
    TakeOrderedAndProject — per-partition partial top-N merged on the
    driver, NO global sort shuffle (plan-pinned); the 100 TB-safe way
    to answer ORDER BY … LIMIT."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_rel_stream_sliding(spark, sf_dir):
    """Streaming twin of `rel_sliding_window`: the events table
    replayed as a file-source stream → watermarked sliding-window
    aggregate → memory sink, value-checked against the SAME DuckDB
    oracle as the batch operator (stream results must equal batch
    results)."""
    from gclog_parser_spark.streaming.stream import run_sliding_stream

    base = _scratch_dir("gps_sliding_")
    inp = f"{base}/events"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_sliding_{_STREAM_SEQ[0]}"
    q = run_sliding_stream(
        spark, inp, ev.schema, f"{base}/ckpt", query_name=qname
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rel_stream_sliding: stream timed out (600 s)")
    return spark.table(qname)


def q_rel_stream_sessions(spark, sf_dir):
    """Streaming twin of `rel_session_window`: the events table
    replayed as a file-source stream → NATIVE session_window
    aggregation → memory sink (complete mode so sessions still open
    at end-of-input emit) — value-checked against the SAME DuckDB
    gaps-and-islands oracle as the batch query: three independent
    session implementations (Spark batch session_window, Spark
    streaming session-state merge, DuckDB lag+running-sum) must all
    agree."""
    from gclog_parser_spark.streaming.stream import run_session_stream

    base = _scratch_dir("gps_sessions_")
    inp = f"{base}/events"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_sessions_{_STREAM_SEQ[0]}"
    q = run_session_stream(
        spark, inp, ev.schema, f"{base}/ckpt", query_name=qname
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rel_stream_sessions: stream timed out (600 s)")
    return spark.table(qname)


def q_rel_multiway_join(spark, sf_dir):
    """Six-table multiway join (TPC-H Q5 shape: local-supplier revenue
    per nation inside one region) — the Catalyst join-ordering
    exercise: region/nation are broadcast dims, customer⋈orders and
    orders⋈lineitem are fact-to-fact SortMergeJoins (``merge`` hints
    pin the 100 TB physical path; supplier's n_nationkey equality with
    the customer's closes the cycle).  Revenue in integer cents for
    exact cross-engine parity."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.hint("merge")
        .join(o.hint("merge"), o.o_custkey == c.c_custkey)
        .join(li.hint("merge"), li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


def q_rel_shuffle_join_salted(spark, sf_dir):
    """Salted twin of `rel_shuffle_join` (the manual skew-mitigation
    for a hot join key when AQE's skew split isn't available — e.g.
    an output partitioning must be preserved): the fact side salts its
    key with a deterministic row-local hash, the other side replicates
    each row across all SALT buckets (explode of a literal range, no
    extra shuffle beyond the join's own), the join runs on
    (key, salt) — a hot orderkey now spreads over SALT reducers —
    and the aggregate collapses the salt.  Value-equal to the unsalted
    oracle by construction."""
    SALT = 8
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "_salt", F.pmod(F.hash("l_linenumber", "l_partkey"), F.lit(SALT))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    )
    return (
        li.hint("merge")
        .join(
            orders.hint("merge"),
            (li.l_orderkey == orders.o_orderkey)
            & (li["_salt"] == orders["_salt"]),
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("items"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("revenue_cents"),
        )
    )


def q_rel_window_suite(spark, sf_dir):
    """Ranking-analytic suite (ntile / percent_rank / cume_dist) over
    orders per priority — the remaining window-function family the
    row_number/lag queries don't cover.  One hash exchange on the
    partition key; the per-partition sort is the window's own; ties
    are broken (o_totalprice DESC, o_orderkey ASC) so every rank is
    deterministic cross-engine."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_rel_transitions(spark, sf_dir):
    """Event-type transition matrix (the Markov flow a telemetry
    pipeline derives for funnel/anomaly work): per user, order events
    by time and count (prev_type -> event_type) transitions, with the
    per-source transition probability.  One exchange on user_id for
    the lag window, then one tiny exchange on the 5x5 type pair;
    (ts, event_id) total order makes every lag deterministic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        "event_type",
    ).where(F.col("prev_type").isNotNull())
    by_pair = pairs.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n")
    )
    w_src = Window.partitionBy("prev_type")
    return by_pair.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_src), 6).alias("prob"),
    )


def q_rel_retention(spark, sf_dir):
    """Retention cohorts (the other telemetry staple next to the
    transition matrix): users grouped by first-seen day, distinct
    active users per (cohort_day, weeks-since-first-seen).  The
    cohort assignment is a per-user window min — one user_id
    exchange — then an exact-distinct count per (day, week) key."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id")
    cohorts = ev.select(
        "user_id",
        F.min(F.to_date("ts")).over(w).alias("cohort_day"),
        F.to_date("ts").alias("day"),
    )
    return (
        cohorts.select(
            "user_id",
            "cohort_day",
            F.floor(
                F.datediff("day", "cohort_day") / 7
            ).alias("offset_week"),
        )
        .groupBy("cohort_day", "offset_week")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def q_rel_resample(spark, sf_dir):
    """Hourly resample + forward fill per user (the gap-filling
    time-series primitive; `temporal.resample_ffill`) — grid generated
    scan-side with `sequence`, observations pre-collapse per (user,
    bucket), one user exchange for the fill window.  Sampled to every
    10th user to keep the gate result compact (~10.6k rows)."""
    from gclog_parser_spark.operators.temporal import resample_ffill

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") % 10 == 0
    )
    return resample_ffill(ev)


def q_rel_dq_audit(spark, sf_dir):
    """Data-quality expectations audit (Deequ shape, `operators/dq`):
    uniqueness, referential integrity, null/range constraints, and the
    orders-without-lineitem coverage stat — each check one scan or one
    anti-join, all counts algebraic (map-side partial), report is a
    6-row union.  Clean-by-construction tables gate at exact zeros;
    the coverage stat is non-zero, so the hash check is not vacuous."""
    from gclog_parser_spark.operators.dq import (
        coverage_check,
        dq_audit,
        fk_check,
        null_check,
        range_check,
        unique_check,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return dq_audit([
        unique_check(orders, ["o_orderkey"], name="o_orderkey_unique"),
        fk_check(orders, "o_custkey", cust, "c_custkey",
                 name="o_custkey_fk"),
        fk_check(li, "l_orderkey", orders, "o_orderkey",
                 name="l_orderkey_fk"),
        null_check(ev, "user_id", name="user_id_not_null"),
        range_check(ev, "value", 0, 1_000_000_000, name="value_range"),
        coverage_check(orders, "o_orderkey", li, "l_orderkey",
                       name="orders_without_lineitem"),
    ])


def q_rel_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase: each step
    counts only events strictly AFTER the user's previous-step time
    (min-over-window chain — the order constraint is what separates a
    funnel from three independent counts).  All three steps share the
    one user_id hash partitioning (windows without orderBy add no
    sort), so the whole funnel is a single exchange + a global
    one-row aggregate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after"),
        F.count("t3").alias("n_purchase_after"),
        F.round(F.count("t2") / F.count("t1"), 6).alias("view_to_click"),
        F.round(F.count("t3") / F.count("t2"), 6).alias(
            "click_to_purchase"
        ),
    )


def q_rel_session_window(spark, sf_dir):
    """Spark's NATIVE session_window (dynamic-gap event-time sessions
    — the streaming-capable primitive) against a DuckDB
    gaps-and-islands re-derivation (lag + running sum): two genuinely
    different session algorithms that must agree.  Boundary semantics
    pinned: a gap of exactly 6 h starts a NEW session in both
    (session intervals are half-open).  One user_id exchange."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.session_window("ts", "6 hours"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("duration_us"),
        )
        .select("user_id", "session_start", "n_events", "duration_us")
    )


def q_rel_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE — the iterative-plan
    capability star-join engines lack): walk a deterministic synthetic
    hierarchy (node -> node div 2, a binary tree over the distinct
    user ids; the driver tables carry no parent pointers, so the tree
    is derived identically in both engines) and aggregate users/events
    per hierarchy depth.  Each recursion step is one self-join round —
    the same shape as BOM/org-chart traversals at scale."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "ev_rec"
    )
    return spark.sql(
        """
        WITH RECURSIVE walk(user_id, node, depth) AS (
          SELECT user_id, user_id, 0
          FROM (SELECT DISTINCT user_id FROM ev_rec WHERE user_id >= 1)
          UNION ALL
          SELECT user_id, node DIV 2, depth + 1 FROM walk WHERE node > 1
        ),
        per_user AS (
          SELECT user_id, max(depth) AS depth FROM walk GROUP BY 1
        ),
        ev_counts AS (
          SELECT user_id, count(*) AS n_ev FROM ev_rec GROUP BY 1
        )
        SELECT p.depth, count(*) AS n_users,
               sum(e.n_ev) AS n_events
        FROM per_user p JOIN ev_counts e ON p.user_id = e.user_id
        GROUP BY 1
        """
    )


def q_rel_variant_extract(spark, sf_dir):
    """Semi-structured via the VARIANT type (Spark 4 / open-table
    binary-encoded JSON — the scale-efficient sibling of
    `rel_json_extract`'s string-path `get_json_object`): parse once
    into VARIANT, extract typed fields with `try_variant_get`, and
    introspect the shape with `schema_of_variant` as a grouping key.
    The oracle re-derives both the value and the type introspection
    from DuckDB's JSON extension — an independent parser AND an
    independent type mapper."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = F.parse_json("props")
    return (
        ev.select(
            "event_type",
            F.try_variant_get(v, "$.k", "long").alias("k"),
            F.schema_of_variant(v).alias("variant_schema"),
        )
        .groupBy("event_type", "variant_schema")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.round(F.expr("percentile(k, 0.9)"), 6).alias("p90_k"),
        )
    )


def q_emb_matryoshka(spark, sf_dir):
    """Matryoshka truncation audit (round-5, Kusupati et al. 2022):
    per (label, truncation dim), energy retained by the d-prefix —
    the cosine between a full vector and its truncation — as
    micro-tick-exact group means; the go/no-go before serving
    truncated embeddings next to ann_quant_error's int8 audit
    (operators/similarity.matryoshka_audit)."""
    from gclog_parser_spark.operators.similarity import matryoshka_audit

    return matryoshka_audit(_embs(spark, sf_dir))


def q_emb_dq_checks(spark, sf_dir):
    """Embedding-corpus validation gate (NULL vectors, width drift,
    NULL / non-finite components, zero vectors) as uniform
    (rule, metric, passed) rows from ONE fused conditional-aggregate
    scan — the check a pipeline runs before LSH bucketing or ANN
    indexing (operators/quality.py::embedding_checks)."""
    from gclog_parser_spark.operators.quality import embedding_checks

    return embedding_checks(_embs(spark, sf_dir), dim=64)


def q_rel_dq_checks(spark, sf_dir):
    """Data-quality constraint report (the Deequ/dbt-test shape):
    uniqueness, null ratio, value range, accepted values, and
    referential integrity as uniform (rule, metric, passed) rows —
    the validation layer a pipeline runs before publishing a table."""
    from gclog_parser_spark.operators.quality import (
        accepted_values_check,
        dq_report,
        fk_check,
        null_check,
        range_check,
        unique_check,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return dq_report(
        [
            unique_check(orders, ["o_orderkey"], "orders_pk_unique"),
            null_check(orders, "o_orderdate", "orders_date_not_null"),
            range_check(
                orders, "o_totalprice", 0, 1e9, "orders_price_range"
            ),
            accepted_values_check(
                ev,
                "event_type",
                ["view", "click", "purchase", "signup", "error"],
                "events_type_domain",
            ),
            fk_check(
                li, orders, "l_orderkey", "o_orderkey", "lineitem_fk"
            ),
        ]
    )


def q_rel_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (`percentile` — the
    non-approx twin of the flagship's percentile_approx): p50/p95 of
    the order totals per priority.  Exact percentile needs the full
    per-group sort, so it is the expensive-but-correct path;
    percentile_approx (flagship) is the 100 TB default and this is the
    audit/validation pass."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 6).alias("p95"),
    )


def q_rel_unpivot(spark, sf_dir):
    """UNPIVOT/melt (the inverse of `gc_pivot_family`): widen-stored
    lineitem measures melted to (measure, value) rows, then a
    per-(returnflag, measure) rollup — scan-side row generation (a
    projection into an explode, no shuffle) + one partial-aggregated
    exchange on ~8 keys."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    melted = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("val") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )


def q_corpus_compact(spark, sf_dir):
    """Compaction/layout maintenance pass: rewrite documents as a
    lang-partitioned, doc_id-clustered parquet table (ONE shuffle on
    the hive key, in-task sort, maxRecordsPerFile size cap), then read
    it back — the oracle checks the rewrite is content-preserving
    (SELECT * FROM documents), the layout properties are pinned in
    tests/test_layout.py."""
    from gclog_parser_spark.operators.layout import compact_table

    base = _scratch_dir("gps_compact_")
    docs = _docs(spark, sf_dir)
    compact_table(
        docs, base, partition_by=["lang"], sort_by=["doc_id"]
    )
    return spark.read.parquet(base).select(*docs.columns)


def q_rel_cdc_latest(spark, sf_dir):
    """Changelog → latest-snapshot compaction (the upsert-table read
    path): newest event per user, ONE key exchange, deterministic
    (ts DESC, event_id DESC) pick."""
    from gclog_parser_spark.operators.cdc import latest_snapshot

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return latest_snapshot(ev)


def q_rel_scd2(spark, sf_dir):
    """Type-2 SCD history from the changelog: run-compressed attribute
    versions per user with [valid_from, valid_to) intervals and an
    is_current flag — one key exchange, lag+lead on one shared sort
    (operators/cdc.py::scd2_history)."""
    from gclog_parser_spark.operators.cdc import scd2_history

    return scd2_history(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_rel_cdc_upsert(spark, sf_dir):
    """MERGE INTO semantics (the Iceberg upsert the sandbox can't run
    natively — see operators/route.fanout_write): base = the per-user
    snapshot before Jan 8, changelog = everything after, with `error`
    events as tombstone deletes; a change always beats a base row,
    the newest winning tombstone drops the key."""
    from gclog_parser_spark.operators.cdc import (
        apply_changes,
        latest_snapshot,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    split = F.lit("2024-01-08").cast("timestamp")
    base = latest_snapshot(ev.filter(F.col("ts") < split))
    changes = ev.filter(F.col("ts") >= split).withColumn(
        "is_del", F.col("event_type") == "error"
    )
    return apply_changes(base, changes, delete_col="is_del")


def q_rel_stream_upsert(spark, sf_dir):
    """Continuous MERGE apply (streaming CDC → catalog): the post-split
    changelog replays as three chronological micro-batch files, each
    folded into the snapshot table by foreachBatch (read state → merge
    newest-wins with tombstones → commit overwrite snapshot; every
    intermediate state stays time-travelable).  Value-checked against
    the SAME one-shot MERGE oracle as the batch twin rel_cdc_upsert —
    sequential chronological batches must compose to exactly the
    one-shot result (streaming/stream.py::run_cdc_apply_stream)."""
    from gclog_parser_spark.operators.cdc import latest_snapshot
    from gclog_parser_spark.sources import catalog as cat
    from gclog_parser_spark.streaming.stream import run_cdc_apply_stream

    base = _scratch_dir("gps_cdcstream_")
    table = f"{base}/tbl"
    inp = f"{base}/changes"
    os.makedirs(inp)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    split = F.lit("2024-01-08").cast("timestamp")
    cat.snapshot_write(
        latest_snapshot(ev.filter(F.col("ts") < split)), table
    )
    changes = ev.filter(F.col("ts") >= split).withColumn(
        "is_del", F.col("event_type") == "error"
    )
    bounds = [
        ("2024-01-08", "2024-01-15"),
        ("2024-01-15", "2024-01-22"),
        ("2024-01-22", "2099-01-01"),
    ]
    for i, (lo, hi) in enumerate(bounds):
        chunk = changes.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        # one file per chronological chunk → one micro-batch each
        chunk.coalesce(1).write.parquet(f"{inp}/chunk-{i}")
    q = run_cdc_apply_stream(
        spark, f"{inp}/chunk-*", changes.schema, table, f"{base}/ckpt"
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rel_stream_upsert: stream timed out (600 s)")
    out = cat.read_snapshot(spark, table).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


def q_dedup_stream_incremental(spark, sf_dir):
    """Streaming corpus maintenance: the documents table replays as
    three chronological crawl batches (doc_id % 3); each micro-batch
    dedups against the ACCUMULATED survivor corpus and appends only
    its keepers (streaming/stream.py::run_incremental_dedup_stream).
    Output = every doc's (batch_idx, keep) verdict; the oracle
    re-derives the same greedy sequential semantics from the full
    banded pair set in staged SQL."""
    from gclog_parser_spark.streaming.stream import (
        run_incremental_dedup_stream,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = _scratch_dir("gps_dedupstream_")
    inp = f"{base}/batches"
    os.makedirs(inp)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{inp}/batch-{i}"
        )
    q = run_incremental_dedup_stream(
        spark, f"{inp}/batch-*", docs.schema,
        f"{base}/survivors", f"{base}/ckpt",
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(
            "dedup_stream_incremental: stream timed out (600 s)"
        )
    surv = spark.read.parquet(f"{base}/survivors").select("doc_id")
    out = docs.select(
        "doc_id", (F.col("doc_id") % 3).cast("int").alias("batch_idx")
    ).join(
        surv.withColumn("_k", F.lit(True)), "doc_id", "left"
    ).select(
        "doc_id",
        "batch_idx",
        F.coalesce(F.col("_k"), F.lit(False)).alias("keep"),
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


def q_rel_interval_join(spark, sf_dir):
    """Batch interval join (view -> purchase attribution within 30
    minutes per user) — the relational twin of the stream-stream join;
    the same `attribution_join` operator runs unchanged on batch
    frames."""
    from gclog_parser_spark.streaming.stream import attribution_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


def q_rel_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join: views and purchases as
    two independent file-source streams over the same events replay,
    inner-joined per user within a 30-minute lag bound; append-mode
    memory sink.  Value-checked against the SAME DuckDB oracle as the
    batch twin (stream results must equal batch results)."""
    from gclog_parser_spark.streaming.stream import run_attribution_stream

    base = _scratch_dir("gps_attrib_")
    inp = f"{base}/events"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_join_{_STREAM_SEQ[0]}"
    q = run_attribution_stream(
        spark, inp, ev.schema, f"{base}/ckpt", query_name=qname
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rel_stream_join: stream timed out (600 s)")
    return spark.table(qname)


def q_text_chunks(spark, sf_dir):
    """Context-window chunking (32-word chunks, 8-word overlap) — the
    RAG/pretraining doc splitter as a zero-shuffle generator
    projection."""
    from gclog_parser_spark.operators.textstats import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_rel_rollup(spark, sf_dir):
    """ROLLUP (grouping sets): order counts by (priority, status) with
    subtotal and grand-total rows — partial-aggregatable like any hash
    agg, so the hierarchy costs one shuffle."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("revenue_cents"),
        )
    )


def q_rel_cube(spark, sf_dir):
    """CUBE (all grouping-set combinations) over lineitem flags, with
    the GROUPING() bitmask distinguishing NULL-as-subtotal from
    NULL-as-data — still one shuffle: Spark expands the grouping sets
    map-side and partial-aggregates each."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("items"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.grouping_id().alias("grouping_id"),
        )
    )


def q_rel_intersect(spark, sf_dir):
    """INTERSECT (set) semantics: customers ordering in both 1995 and
    1996 — Spark plans `intersect` as a left-semi join over distinct
    rows (the complement of `rel_except`)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    y95 = orders.where(F.year("o_orderdate") == 1995).select(
        "o_custkey"
    )
    y96 = orders.where(F.year("o_orderdate") == 1996).select(
        "o_custkey"
    )
    return y95.intersect(y96)


def q_gc_urls_per_sink(spark, sf_dir):
    """Exact distinct-count aggregate: JVMs (urls) per sink — the
    two-phase distinct shape (partial dedup map-side, exact merge)."""
    ev = with_sink(_events(spark, sf_dir))
    return ev.groupBy("sink").agg(
        F.count_distinct("url").alias("urls"),
        F.count("*").alias("events"),
    )


def q_rel_except(spark, sf_dir):
    """Set difference (EXCEPT/INTERSECT distinct semantics): customers
    who ordered in 1995 but never in 1996.  Spark plans `except` as a
    left-anti join over distinct rows — the same shuffle shape as the
    anti-join query, but with set (not bag) semantics."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    y95 = orders.where(F.year("o_orderdate") == 1995).select(
        "o_custkey"
    )
    y96 = orders.where(F.year("o_orderdate") == 1996).select(
        "o_custkey"
    )
    return y95.subtract(y96)  # EXCEPT (set) semantics


def q_gc_pivot_family(spark, sf_dir):
    """PIVOT: per-hour event counts spread into one fixed column per
    sink (explicit value list, so Catalyst plans a single pass of
    conditional partial aggregates — never a per-value scan)."""
    sinks = [
        "parallel_minor", "full", "cms_concurrent",
        "promotion_failure", "app_stopped",
    ]
    ev = with_sink(_events(spark, sf_dir))
    return (
        ev.select(
            F.unix_seconds(
                F.date_trunc("hour", "warc_ts")
            ).alias("hour_epoch"),
            "sink",
        )
        .groupBy("hour_epoch")
        .pivot("sink", sinks)
        .count()
        .na.fill(0, sinks)
    )


# --- training-data pipeline operators (dedup / text / similarity /
# multimodal) over the documents & embeddings tables ------------------------


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark, sf_dir):
    from gclog_parser_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_pairs(spark, sf_dir):
    from gclog_parser_spark.operators.dedup import minhash_band_pairs

    return minhash_band_pairs(_docs(spark, sf_dir))


def q_dedup_kcore(spark, sf_dir):
    """k-core of the MinHash candidate-pair graph (round-5): iterative
    peeling to the unique maximal min-degree-2 subgraph — isolated dup
    pairs and chains peel away, template farms / mirror clusters
    survive as the core with their in-core degree; the farm-membership
    signal next to dedup_clusters (reachability) and web_triangles
    (closed wedges).  All-BIGINT, O(1) driver convergence count,
    shuffle ∝ surviving edges (operators/graph.kcore)."""
    from gclog_parser_spark.operators.dedup import minhash_band_pairs
    from gclog_parser_spark.operators.graph import kcore

    return kcore(
        minhash_band_pairs(_docs(spark, sf_dir)),
        src="doc_a", dst="doc_b", k=2,
    )


def q_dedup_coreness(spark, sf_dir):
    """Full core decomposition of the MinHash pair graph (round-5):
    every doc's coreness in one pass via the h-index iteration (Lü et
    al. 2016) — the whole peeling ladder dedup_kcore samples at k=2,
    for bucketing near-dup farms by tier without picking k up front.
    Exact BIGINT H-index (count of ranks with value >= rank), O(1)
    driver convergence on the monotone sum
    (operators/graph.coreness)."""
    from gclog_parser_spark.operators.dedup import minhash_band_pairs
    from gclog_parser_spark.operators.graph import coreness

    return coreness(
        minhash_band_pairs(_docs(spark, sf_dir)),
        src="doc_a", dst="doc_b",
    )


def q_dedup_cross_source(spark, sf_dir):
    """Cross-source near-dup leakage matrix (round-5): per canonical
    (source_a <= source_b) pair, MinHash candidate pairs straddling it
    + distinct docs implicated — diagonal = within-source template
    reuse, off-diagonal = the same content arriving through two
    pipelines (double-count / license-laundering smell per-source
    dedup never sees).  LSH-banded pair join, then one tiny
    (source,source) exchange (operators/dedup.cross_source_pairs)."""
    from gclog_parser_spark.operators.dedup import cross_source_pairs

    return cross_source_pairs(_docs(spark, sf_dir))


def q_dedup_verified_pairs(spark, sf_dir):
    from gclog_parser_spark.operators.dedup import minhash_verified_pairs

    return minhash_verified_pairs(_docs(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    from gclog_parser_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir))


#: per-language sampling rates for the corpus_sample contract query
SAMPLE_RATES = {"en": 0.5, "de": 0.25}
SAMPLE_DEFAULT_RATE = 0.1


def q_corpus_split(spark, sf_dir):
    from gclog_parser_spark.operators.sampling import hash_split

    return hash_split(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "split"
    )


def q_corpus_weighted_sample(spark, sf_dir):
    """Quality-weighted resampling: each doc kept with probability
    equal to its quality score — the soft alternative to a hard
    quality cutoff; content-keyed hash draw, zero exchanges."""
    from gclog_parser_spark.operators.sampling import weighted_sample
    from gclog_parser_spark.operators.textstats import quality_stats

    q = quality_stats(_docs(spark, sf_dir)).select(
        "doc_id", "quality_score"
    )
    return weighted_sample(q, "quality_score")


def q_corpus_contamination(spark, sf_dir):
    """Cross-split 5-gram contamination per test doc after the
    standard hash split — the eval-hygiene audit; train side is ~90 %
    of the corpus so the shared-gram check is a relational equi-join,
    never a broadcast."""
    from gclog_parser_spark.operators.textstats import split_contamination

    return split_contamination(_docs(spark, sf_dir))


def q_corpus_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split: every member of a MinHash
    near-dup cluster hashes on the shared cluster_id, so duplicated
    pages can never straddle train and test — the memorization-proof
    split protocol; oracle re-derives the clusters with a recursive
    CTE and applies the same bucket thresholds."""
    from gclog_parser_spark.operators.sampling import leakage_safe_split

    return leakage_safe_split(_docs(spark, sf_dir))


def q_corpus_sample(spark, sf_dir):
    from gclog_parser_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        rates=SAMPLE_RATES,
        default_rate=SAMPLE_DEFAULT_RATE,
    ).select("doc_id", "lang", "source")


#: per-source page quota (every sf0.01 source holds 25 docs, so 20
#: forces the over-quota rank path on all of them)
QUOTA_MAX = 20


def q_corpus_quota(spark, sf_dir):
    """C4-style per-host page cap: keep the 20 lowest-hash-bucket docs
    per source — zipf-aware two-path plan (tiny over-quota group set
    broadcast; the long tail passes through with NO sort, only
    over-quota rows take the rank window); oracle ranks every group in
    one unbounded window — two plans, one keep-rule."""
    from gclog_parser_spark.operators.sampling import domain_quota

    return domain_quota(_docs(spark, sf_dir), max_per_group=QUOTA_MAX)


#: shard_by_tokens group count for the contract query — pinned (the
#: operator default auto-sizes from defaultParallelism, which the
#: static DuckDB oracle text cannot see)
SHARD_GROUPS = 32


def q_corpus_shards(spark, sf_dir):
    from gclog_parser_spark.operators.sampling import shard_by_tokens

    return shard_by_tokens(_docs(spark, sf_dir), n_groups=SHARD_GROUPS)


def q_text_repetition(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_text_boilerplate(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import strip_boilerplate

    return strip_boilerplate(_docs(spark, sf_dir))


def q_text_scrub(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import scrub_pii

    return scrub_pii(_docs(spark, sf_dir))


def q_corpus_filter(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import corpus_filter

    return corpus_filter(_docs(spark, sf_dir))


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup in the correctness gate: the pages table
    UNION a simulated re-crawl (same text bytes, different urls), fed as
    a multi-micro-batch file stream through
    ``dropDuplicatesWithinWatermark`` on the content hash.  The output's
    distinct-hash set must equal DISTINCT md5(page text) in DuckDB.
    The watermark (48 h) covers the whole event-time span so no sighting
    is late-dropped — which makes the hash set deterministic regardless
    of file→batch packing."""
    from gclog_parser_spark.streaming.stream import run_dedup_stream

    base = _scratch_dir("gps_sdedup_")
    pages = pages_from_documents(spark, sf_dir)
    recrawl = pages.withColumn(
        "url", F.concat(F.lit("recrawl/"), F.col("url"))
    )
    pages.unionByName(recrawl).repartition(3).write.parquet(
        f"{base}/pages"
    )
    q = run_dedup_stream(
        spark,
        f"{base}/pages",
        f"{base}/out",
        f"{base}/ckpt",
        watermark="48 hours",
        max_files_per_trigger=1,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("gc_stream_dedup: stream timed out (600 s)")
    # materialize the small distinct-hash set so the staging dir can be
    # removed before the driver compares the result
    rows = (
        spark.read.parquet(f"{base}/out").select("text_hash").distinct()
    ).collect()
    return spark.createDataFrame(rows, "text_hash string")


def q_dedup_simhash(spark, sf_dir):
    from gclog_parser_spark.operators.dedup import simhash_docs

    return simhash_docs(_docs(spark, sf_dir))


def q_dedup_jaccard(spark, sf_dir):
    from gclog_parser_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf_dir))


def q_dedup_containment(spark, sf_dir):
    """Asymmetric near-dup: containment C = |A∩B| / min(|A|,|B|) over
    distinct shingle sets — catches a doc EMBEDDED in another
    (quotes, boilerplate-wrapped mirrors, truncated re-crawls) where
    symmetric Jaccard reads low; jaccard rides along so subset-dups
    (C high, J low) separate from true near-dups
    (operators/dedup.py::containment_pairs)."""
    from gclog_parser_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir))


def q_dedup_prefix_jaccard(spark, sf_dir):
    """All-pairs Jaccard ≥ 1/2 via PPJoin prefix filtering — the
    provably-complete candidate reducer (candidates keyed only on each
    doc's globally-rarest shingles, so the self-join is self-limiting
    with NO df cap and no bucket confinement), with an integer
    den·inter ≥ num·union keep test for cross-engine parity
    (operators/dedup.py::prefix_jaccard_pairs)."""
    from gclog_parser_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(_docs(spark, sf_dir))


def q_corpus_drift(spark, sf_dir):
    """Corpus-drift monitor between two snapshots (even/odd doc_id
    halves stand in for consecutive crawl batches): per-word
    total-variation contribution via exact 1e9 share ticks — rational,
    log-free, so both engines agree bit-for-bit
    (operators/textstats.py::word_drift)."""
    from gclog_parser_spark.operators.textstats import word_drift

    docs = _docs(spark, sf_dir)
    return word_drift(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_text_bpe_merges(spark, sf_dir):
    """Corpus-scale BPE tokenizer training: learn the first 8 merges —
    one corpus-sized word-count aggregation, then every iteration runs
    on the |vocab|-row weighted word relation (pair-count exchange +
    O(1) driver argmax + map-side fold rewrite, localCheckpoint-
    truncated lineage).  Exact BIGINT parity with the oracle's
    unrolled-CTE reimplementation, whose merge step is a gaps-and-
    islands window rather than the fold
    (operators/tokenizer.py::bpe_merges)."""
    from gclog_parser_spark.operators.tokenizer import bpe_merges

    return bpe_merges(_docs(spark, sf_dir))


def q_dedup_recall(spark, sf_dir):
    """Candidate-recall audit of the MinHash-LSH banding index against
    the provably-complete exact-Jaccard ground truth (PPJoin): the
    pre-flight quality dial for a 10^12-doc dedup run — banding
    parameters trade recall against candidate volume, and this makes
    the trade measurable on a sample (operators/dedup.py::lsh_recall)."""
    from gclog_parser_spark.operators.dedup import lsh_recall

    return lsh_recall(_docs(spark, sf_dir))


def q_dedup_incremental(spark, sf_dir):
    """New-crawl-batch dedup against an already-deduplicated corpus
    (even/odd doc_id halves): exact hash semi-join + LSH band-index
    probe (new-vs-old) + within-batch band self-join (new-vs-new) —
    the production shape that never re-clusters the corpus.  Oracle
    re-derives verdicts from the FULL pair set, classified by split
    side (operators/dedup.py::incremental_dedup)."""
    from gclog_parser_spark.operators.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    return incremental_dedup(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_corpus_pack(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing: deterministic
    content-keyed concat order, sliced every 128 tokens, docs spanning
    boundaries — one row per (doc, sequence) span.  Grouped prefix
    sums (8 fixed pack groups here for cross-cluster reproducibility;
    the operator defaults to defaultParallelism) keep the running sum
    parallel (operators/sampling.py::pack_sequences)."""
    from gclog_parser_spark.operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=128, n_groups=8)


def q_text_oov(spark, sf_dir):
    """Tokenizer-coverage audit: per-doc OOV rate against the
    corpus-trained top-100 bigram vocabulary (deterministic count/
    bigram boundary; TakeOrderedAndProject top-k, broadcast membership
    join) (operators/textstats.py::oov_rate)."""
    from gclog_parser_spark.operators.textstats import oov_rate

    return oov_rate(_docs(spark, sf_dir))


def q_dedup_survivors(spark, sf_dir):
    """Quality-argmax canonical selection per near-dup cluster: LSH →
    connected components → keep the highest-quality member (doc_id
    tie-break), one row per cluster with member count — the keeper
    policy a production corpus wants over min-id
    (operators/dedup.py::dedup_survivors)."""
    from gclog_parser_spark.operators.dedup import dedup_survivors

    return dedup_survivors(_docs(spark, sf_dir))


def q_corpus_domain_mix(spark, sf_dir):
    """Temperature-based training-mix design: per-domain sampling
    weights ∝ √n (α=1/2 — the IEEE-exact temperature), normalized via
    exact integer ticks so no float accumulation order exists
    (operators/sampling.py::domain_mix_weights)."""
    from gclog_parser_spark.operators.sampling import domain_mix_weights

    return domain_mix_weights(_docs(spark, sf_dir))


def q_text_classifier(spark, sf_dir):
    """Linear classifier inference at corpus scale (fastText shape):
    hashed word uni+bigram features → broadcast weight-relation join →
    tf-weighted mean score; the keep decision is a sign test on the
    exact integer tick sum so the boundary cannot float-drift
    (operators/textstats.py::classifier_score)."""
    from gclog_parser_spark.operators.textstats import classifier_score

    return classifier_score(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import quality_stats

    return quality_stats(_docs(spark, sf_dir))


def q_text_readability(spark, sf_dir):
    """Flesch reading-ease + Flesch-Kincaid grade per document
    (round-5): \\S+ words, [.!?]+ sentences floored at 1, vowel-group
    syllables — pure scan-side regexp_count codegen, zero exchange;
    the prose-complexity prior next to text_quality for curriculum
    bands and mix caps (operators/textstats.readability)."""
    from gclog_parser_spark.operators.textstats import readability

    return readability(_docs(spark, sf_dir))


def q_text_cooccur(spark, sf_dir):
    """Within-document co-occurrence mining (round-5, Apriori 2-itemset
    level): pair document-frequency + lift over word pairs, with the
    Apriori df-prune applied BEFORE the quadratic per-doc pair join —
    the order-free collocation signal corpus_ngrams' adjacency misses
    (operators/textstats.cooccur_pairs)."""
    from gclog_parser_spark.operators.textstats import cooccur_pairs

    return cooccur_pairs(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_corpus_effective_tokens(spark, sf_dir):
    """Effective-token accounting after near-dup dedup (round-5): per
    source, raw vs keeper-surviving tokens and the dup share clawed
    back — the corrected capacity number that decides mix weights
    (raw token_counts overstates templated sources).  Exact BIGINT
    sums both branches, one share division; scan-side token regexp +
    the dedup keeper join (operators/textstats.effective_tokens)."""
    from gclog_parser_spark.operators.textstats import effective_tokens

    return effective_tokens(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    from gclog_parser_spark.operators.textstats import fingerprints

    return fingerprints(_docs(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    from gclog_parser_spark.operators.similarity import cosine_topk

    return cosine_topk(_embs(spark, sf_dir))


def q_ann_lsh_topk(spark, sf_dir):
    from gclog_parser_spark.operators.similarity import lsh_bucket_topk

    return lsh_bucket_topk(_embs(spark, sf_dir))


def q_ann_ivf_topk(spark, sf_dir):
    from gclog_parser_spark.operators.similarity import ivf_topk

    return ivf_topk(_embs(spark, sf_dir))


def q_ann_ivf_trained(spark, sf_dir):
    """IVF with TRAINED centroids: 2 Lloyd's iterations on the corpus,
    then the probe-cell top-k — vs the oracle's full SQL re-derivation
    of the same training."""
    from gclog_parser_spark.operators.similarity import (
        ivf_topk,
        ivf_train,
    )

    emb = _embs(spark, sf_dir)
    cents = ivf_train(emb, iters=2)
    return ivf_topk(emb, cents=cents)


def q_ann_quantized_topk(spark, sf_dir):
    """Top-k cosine over the int8-quantized corpus (4x
    memory/bandwidth vs fp32 — the affordable 10^12-vector scan);
    integer dot products are exact in double so Spark and DuckDB
    agree bit-for-bit."""
    from gclog_parser_spark.operators.similarity import quantized_topk

    return quantized_topk(_embs(spark, sf_dir))


def q_ann_quant_error(spark, sf_dir):
    """Per-label int8 reconstruction-error audit — the quality gate
    run once after quantizing a corpus shard."""
    from gclog_parser_spark.operators.similarity import (
        quantization_error,
    )

    return quantization_error(_embs(spark, sf_dir))


def q_web_url_facets(spark, sf_dir):
    """Per-(tld, scheme) domain rollup over synthesized heterogeneous
    URLs: Spark splits with Hive ``parse_url`` (codegen), the oracle
    re-derives every facet with regexps — two independent URL
    parsers value-checked against each other."""
    from gclog_parser_spark.operators.webstats import (
        synth_urls,
        url_facet_rollup,
    )

    return url_facet_rollup(synth_urls(_docs(spark, sf_dir)))


def q_web_crawl_budget(spark, sf_dir):
    """Largest-remainder (Hamilton) crawl-budget apportionment
    (round-5): a global fetch budget split across hosts proportionally
    to page counts, all-BIGINT DIV/% arithmetic, leftover slots to the
    largest remainders (ties host ASC) — quotas sum to EXACTLY the
    budget, the politeness scheduler over the per-host rollup
    (operators/webstats.crawl_budget)."""
    from gclog_parser_spark.operators.webstats import (
        crawl_budget,
        synth_urls,
    )

    return crawl_budget(synth_urls(_docs(spark, sf_dir)))


def q_gc_stream_source_counts(spark, sf_dir):
    """End-to-end streaming ingestion through the pluggable source: the
    reference fixture logs LAND AS FILES in a watched directory (two
    waves → two-plus micro-batches), the gclog streaming source
    delivers each file's lines exactly once, foreachBatch rebuilds the
    per-file text (whole-file-per-batch is the source's offset
    invariant), runs the REAL parse, and appends typed events to an
    idempotent sink.  The oracle runs the SAME SQL GC parser the page
    corpus is checked with, pointed at the files via DuckDB read_text —
    transport + parse verified together."""
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.sources.datasource import register

    register(spark)
    base = _scratch_dir("gps_srcstream_")
    logs = os.path.join(base, "logs")
    out = os.path.join(base, "out")
    os.makedirs(logs)
    import glob as globmod

    # every fixture (incl. the CMS fragments; README parses to zero
    # events in BOTH engines — the silent-drop grammar rule at work)
    fixtures = sorted(globmod.glob(_fixture_glob("*")))

    def handle(batch, _bid):
        pages = (
            batch.groupBy("log_path")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("line_no", "line"))
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                ).alias("text")
            )
            .select(
                F.col("log_path").alias("url"),
                F.lit("2016-11-10 00:00:00")
                .cast("timestamp")
                .alias("warc_ts"),
                "text",
            )
        )
        ev = parse_events(pages, stitch="narrow", require_marker=False)
        ev.select("url", "gc_class", "gc_type").write.mode(
            "append"
        ).parquet(out)

    q = (
        spark.readStream.format("gclog")
        .option("path", os.path.join(logs, "*"))
        .load()
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    try:
        # wave 1, then wave 2 lands mid-stream
        for p in fixtures[:3]:
            shutil.copy(p, logs)
        q.processAllAvailable()
        for p in fixtures[3:]:
            shutil.copy(p, logs)
        q.processAllAvailable()
    finally:
        q.stop()
    res = (
        spark.read.parquet(out)
        .groupBy("gc_class", "gc_type")
        .agg(
            F.count("*").alias("events"),
            F.countDistinct("url").alias("urls"),
        )
    )
    rows = res.collect()
    return spark.createDataFrame(rows, res.schema)


#: ANN recall probe points (deterministic vec_ids) and depth
RECALL_QUERY_IDS = [0, 7, 42]
RECALL_K = 10


def q_ann_recall(spark, sf_dir):
    """Recall@10 vs exact cosine for three probe queries, for BOTH
    approximate paths: the single-bucket LSH index (honest near-zero
    recall on this weakly-clustered corpus — the evidence for why
    multiband exists) and the int8-quantized scan (recall loss is pure
    quantization re-ordering at the top-k boundary).  Set-based over
    all probes at once — no per-query driver loop."""
    from gclog_parser_spark.operators.similarity import ann_recall_at_k

    emb = _embs(spark, sf_dir)
    out = None
    for m in ("lsh", "int8"):
        r = ann_recall_at_k(
            emb, RECALL_QUERY_IDS, k=RECALL_K, method=m
        ).select(F.lit(m).alias("method"), "*")
        out = r if out is None else out.unionByName(r)
    return out


def q_ann_pq_topk(spark, sf_dir):
    """Product quantization (Jégou et al., TPAMI 2011), trained +
    searched: per-subspace integer-tick k-means (2 Lloyd's iterations,
    all 4 subspaces trained in one relational pass per iteration),
    12-bit codes, ADC top-k where the corpus scan does M table
    lookups per vector and zero arithmetic.  Stricter determinism than
    the IVF trainer — every cross-row quantity is an exact BIGINT, so
    the SQL oracle's unrolled-iteration re-derivation matches
    bit-for-bit (operators/similarity.py::pq_train/pq_topk)."""
    from gclog_parser_spark.operators.similarity import (
        pq_topk,
        pq_train,
    )

    emb = _embs(spark, sf_dir)
    cents = pq_train(emb, iters=2)
    return pq_topk(emb, cents, k=10)


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (no-residual IVFADC): seed-centroid IVF cells prune the
    corpus to the query's 2 probe cells, then trained PQ codebooks
    rank only those candidates by exact integer ADC ticks — the
    10^12-vector index layout (codes ~170x smaller than fp32, scan
    touches n_probe/n_cells of them).  Both halves reuse the pinned
    exact pieces (operators/similarity.ivfpq_topk)."""
    from gclog_parser_spark.operators.similarity import (
        ivfpq_topk,
        pq_train,
    )

    emb = _embs(spark, sf_dir)
    cents_pq = pq_train(emb, iters=2)
    return ivfpq_topk(emb, cents_pq, k=10, n_probe=2)


def q_emb_rproj(spark, sf_dir):
    """Signed random projection (JL transform, SRP-LSH front end):
    proj[j] = Σ_i sign(i,j)·emb[i] with the ±1 matrix a pure md5
    function of (i, j) — never stored, never shipped.  Components
    quantize to integer ticks first so every cross-term is exact
    int64: the Arrow int-matmul scan and the DuckDB oracle's
    relational sum produce identical bits
    (operators/similarity.py::srp_project)."""
    from gclog_parser_spark.operators.similarity import srp_project

    return srp_project(_embs(spark, sf_dir), out_dim=16)


def q_emb_label_stats(spark, sf_dir):
    """Per-label centroid norm / mean member norm / cohesion
    (resultant length) — the embedding-drift monitor; every cross-row
    sum is integer ticks so both engines aggregate exactly."""
    from gclog_parser_spark.operators.similarity import label_centroids

    return label_centroids(_embs(spark, sf_dir))


def q_rel_kmv_merge(spark, sf_dir):
    """Sketch mergeability, value-proven: events split into two halves,
    each half sketched independently (the per-shard partial state a
    distributed agg tree ships), sketches merged, estimate taken — the
    oracle computes the WHOLE-table estimate, so equality IS the proof
    that merge(sketch(A), sketch(B)) == sketch(A ∪ B)."""
    from gclog_parser_spark.operators.aggregate import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    half_a = ev.where(F.col("event_id") % 2 == 0)
    half_b = ev.where(F.col("event_id") % 2 == 1)
    merged = kmv_merge(
        [
            kmv_sketch(half_a, "event_type", "user_id", k=64),
            kmv_sketch(half_b, "event_type", "user_id", k=64),
        ],
        "event_type",
        k=64,
    )
    return kmv_estimate(merged, "event_type", k=64)


def q_rel_kmv_intersect(spark, sf_dir):
    """Theta-sketch set algebra on KMV sketches: per event-type PAIR,
    the intersection estimate |common<θ|·2³²/θ with θ = least of the
    two k-th minima (2³² when a sketch is exact) — the DataSketches
    union/intersect workflow where set operations run on fixed k-row
    states, never the raw data.  Deterministic md5 hashing makes the
    estimate bit-reproducible, so the oracle computes the identical
    number; the true overlap rides along as n_exact
    (operators/aggregate.py::kmv_pair_intersections)."""
    from gclog_parser_spark.operators.aggregate import (
        kmv_pair_intersections,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_pair_intersections(ev, "event_type", "user_id", k=64)


def q_rel_quantile_sketch(spark, sf_dir):
    """Bottom-k quantile sketch, mergeability value-proven (the fourth
    member of the sketch family: KMV distinct-count, Misra–Gries heavy
    hitters, Bloom membership, now quantiles).  Events shard 8 ways by
    event_id; each shard is sketched independently (the per-shard
    state a distributed agg tree ships — ≤ k rows per group per
    shard); sketches merge; p50/p90/p99 are PICKED (never
    interpolated) from the sorted sample.  The oracle computes the
    single-level whole-table sketch, so hash-equality IS the proof
    that merge(sketch(shard_i)) == sketch(∪ shards)."""
    from gclog_parser_spark.operators.aggregate import (
        quantile_sketch,
        quantile_sketch_merge,
        sketch_quantiles,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    shards = [
        quantile_sketch(
            ev.where(F.pmod(F.col("event_id"), F.lit(8)) == i),
            "event_type",
            "value",
            "event_id",
            k=128,
        )
        for i in range(8)
    ]
    merged = quantile_sketch_merge(shards, "event_type", k=128)
    return sketch_quantiles(merged, "event_type")


def _fixture_glob(pattern: str = "*.log") -> str:
    import gclog_parser_spark

    return os.path.join(
        os.path.dirname(gclog_parser_spark.__file__),
        "resources",
        pattern,
    )


def q_gc_source_lines(spark, sf_dir):
    """The Spark-4 Python DataSource (format 'gclog', one partition per
    file, executor-side streamed reads) over the reference fixture
    logs: per-file line count + ordered line digest.  Oracle = DuckDB
    ``read_text`` + its own split — an independent file reader checking
    the source's partition planning, ordering, and line numbering."""
    from gclog_parser_spark.sources.datasource import gclog_lines

    df = gclog_lines(spark, _fixture_glob())
    return (
        df.groupBy(
            F.regexp_extract("log_path", r"([^/]+)$", 1).alias(
                "log_name"
            )
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("line_no", "line")
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("lines_hash"),
        )
    )


def q_rel_table_diff(spark, sf_dir):
    """Checksum-based reconciliation of a 'replica' of events with
    deterministic damage (drop %97, perturb value %101, insert shifted
    clones %103): Spark runs the two-stage anti-entropy diff (bucket
    digests → row diff only in damaged buckets); the oracle computes
    the same classification with one direct FULL OUTER join."""
    from gclog_parser_spark.operators.quality import table_diff

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    replica = (
        ev.where(F.col("event_id") % 97 != 0)
        .withColumn(
            "value",
            F.when(
                F.col("event_id") % 101 == 0, F.col("value") + 1.5
            ).otherwise(F.col("value")),
        )
        .unionByName(
            ev.where(F.col("event_id") % 103 == 0).withColumn(
                "event_id", F.col("event_id") + F.lit(2_000_000_000)
            )
        )
    )
    return table_diff(ev, replica, key_cols=["event_id"])


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-distance near-dup pairs: Spark generates
    candidates by pigeonhole banding (hamming ≤ 3 ⇒ one of 4 8-bit
    segments matches exactly) then verifies with popcount(xor); the
    oracle runs the brute-force all-pairs scan — recall equivalence of
    the banding proven by value equality."""
    from gclog_parser_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


#: domain blocklist for the contract query — src1.org also proves the
#: label boundary: it must block www.src1.org but never src11.org
BLOCK_RULES = ["src3.com", "src1.org", "cdn.src7.org", "src15.com"]


def q_web_canonical_urls(spark, sf_dir):
    """URL canonicalization over a deterministically messy corpus
    (case noise, default ports, fragments, tracking params, unsorted
    query, trailing slashes) — the URL-dedup key derivation; pure
    codegen regexp/array expressions, zero shuffle."""
    from gclog_parser_spark.operators.webstats import (
        canonicalize_url,
        synth_messy_urls,
    )

    return canonicalize_url(
        synth_messy_urls(_docs(spark, sf_dir))
    ).select("doc_id", "url", "canon_url")


def q_web_blocklist(spark, sf_dir):
    """Domain-blocklist filter with subdomain (label-boundary) matching
    over the synthesized URL corpus.  Spark explodes each host into its
    dot-suffixes and equi-joins the broadcast rule relation; the oracle
    runs the direct ends_with predicate join — two algorithms, one
    blocklist semantics."""
    from gclog_parser_spark.operators.webstats import (
        synth_urls,
        url_blocklist_filter,
    )

    return url_blocklist_filter(
        synth_urls(_docs(spark, sf_dir)), BLOCK_RULES
    ).select("doc_id", "host", "blocked", "matched_rule")


def q_gc_key_skew(spark, sf_dir):
    """Key-skew diagnosis on the pages hot-hour key (70 % of pages on
    hour 4 by construction) — the measurement that justifies the
    salted twins (`gc_per_sink_hourly_salted`,
    `rel_shuffle_join_salted`)."""
    from gclog_parser_spark.operators.aggregate import skew_stats

    pages = pages_from_documents(spark, sf_dir)
    return skew_stats(
        pages.withColumn("hour", F.hour("warc_ts")), ["hour"]
    )


def q_agg_hll_distinct(spark, sf_dir):
    """Approximate COUNT DISTINCT users per event_type via a
    cross-engine-deterministic HyperLogLog sketch (md5 registers,
    exact BIGINT harmonic ticks — `aggregate.hll_distinct`), joined
    with the exact distinct it approximates.  The 10^12-row story:
    O(2^p) mergeable state per group instead of a global distinct
    shuffle; per-batch register relations roll up by max."""
    from gclog_parser_spark.operators.aggregate import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = hll_distinct(ev, ["event_type"], "user_id", p=4)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return sk.join(F.broadcast(exact), "event_type")


def q_rel_stream_hll(spark, sf_dir):
    """Streaming twin of `agg_hll_distinct`: the events table replayed
    one file per micro-batch → stateful register-MAX aggregate
    (complete mode) → estimate off the final in-memory register table.
    HLL state merges by exactly the aggregate running in the stream,
    so the stream's sketch is BIT-IDENTICAL to the batch sketch and
    the SAME DuckDB oracle value-checks both — the always-on
    distinct-users dashboard whose state is groups × 16 rows however
    many events stream through."""
    from gclog_parser_spark.operators.aggregate import hll_distinct
    from gclog_parser_spark.streaming.stream import run_hll_stream

    base = _scratch_dir("gps_hll_")
    inp = f"{base}/events"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(4).write.parquet(inp)
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_hll_{_STREAM_SEQ[0]}"
    q = run_hll_stream(
        spark, inp, ev.schema, f"{base}/ckpt", query_name=qname
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rel_stream_hll: stream timed out (600 s)")
    sk = hll_distinct(
        None, ["event_type"], "user_id", registers=spark.table(qname)
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return sk.join(F.broadcast(exact), "event_type")


def q_rel_stream_late(spark, sf_dir):
    """Watermark late-data audit — the APPEND-mode drop contract made
    value-checkable.  The events table replays as 4 chronological
    weekly micro-batches where every ``event_id % 7 == 0`` row arrives
    TWO batches late; a 3-day watermark hourly count then drops
    exactly the stragglers whose hour closed before they arrived.
    Output per finalized hour: ``(hour, n_stream, n_true,
    n_late_dropped)`` — the dropped-row accounting a production
    dashboard publishes next to its numbers.

    The oracle models Spark's watermark mechanics to the millisecond
    (validated empirically on this engine version): a row in batch b
    is dropped iff its window END <= the LATE-EVENTS watermark of
    batch b (= max event time through batch b-2, ms-floored, minus
    the delay — Spark's late-row filter runs one batch behind the
    eviction watermark); a window is emitted iff its end <= the final
    watermark (availableNow runs a trailing no-data batch to flush).
    Because the late filter and all prior evictions share the same
    threshold sequence, a surviving late row always finds its window
    state still live — no duplicate emission, so the audit is exact
    (streaming/stream.py::run_late_audit_stream)."""
    from gclog_parser_spark.streaming.stream import run_late_audit_stream

    base = _scratch_dir("gps_late_")
    inp = f"{base}/events"
    os.makedirs(inp)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b0 = F.least(F.floor((F.dayofmonth("ts") - 1) / 7), F.lit(3))
    b = (
        F.when(F.col("event_id") % 7 == 0, F.least(b0 + 2, F.lit(3)))
        .otherwise(b0)
        .cast("int")
    )
    arr = ev.withColumn("b", b)
    for i in range(4):
        # one file per chronological batch → one micro-batch each
        arr.filter(F.col("b") == i).drop("b").coalesce(1).write.parquet(
            f"{inp}/chunk-{i}"
        )
    _STREAM_SEQ[0] += 1
    qname = f"gps_stream_late_{_STREAM_SEQ[0]}"
    q = run_late_audit_stream(
        spark, f"{inp}/chunk-*", ev.schema, f"{base}/ckpt", query_name=qname
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rel_stream_late: stream timed out (600 s)")
    streamed = spark.table(qname)
    ts_t = F.col("ts").cast("timestamp")
    truth = (
        ev.select(F.date_trunc("hour", ts_t).alias("hour"))
        .groupBy("hour")
        .agg(F.count("*").alias("n_true"))
    )
    wm_row = ev.agg(
        (F.max(F.unix_millis(ts_t)) - F.lit(3 * 86400 * 1000)).alias(
            "final_wm"
        )
    )
    out = (
        truth.crossJoin(F.broadcast(wm_row))
        .where(F.unix_millis(F.col("hour")) + 3600000 <= F.col("final_wm"))
        .join(streamed, "hour", "left")
        .select(
            "hour",
            F.coalesce("n_stream", F.lit(0)).cast("long").alias("n_stream"),
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_true") - F.coalesce("n_stream", F.lit(0)))
            .cast("long")
            .alias("n_late_dropped"),
        )
    )
    # the memory sink and sf_dir parquet back every input; the temp
    # chunk files are no longer referenced once the stream terminated
    return out


def q_agg_hll_rollup(spark, sf_dir):
    """HLL sketch-hierarchy rollup: sketch ONCE at the finest grain
    (event_type × hour register relation), answer the per-type AND
    global distinct-user questions by register-max re-aggregation of
    that sketch relation — never rescanning the events.  est_merged
    (rolled up from the fine sketch) and est_direct (sketched from
    the raw rows at the coarse grain) are equal by associativity;
    emitting both and hash-matching the oracle proves it
    (operators/aggregate.py::hll_rollup).  The 10^12-row story: store
    O(groups × 2^p) register rows per day, serve every coarser
    COUNT DISTINCT from sketch-sized input."""
    from gclog_parser_spark.operators.aggregate import (
        hll_distinct,
        hll_registers,
        hll_rollup,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fine = hll_registers(
        ev.withColumn("hour", F.date_trunc("hour", "ts")),
        ["event_type", "hour"],
        "user_id",
        p=4,
    )
    by_type = hll_rollup(fine, ["event_type"], p=4).withColumnRenamed(
        "est_distinct", "est_merged"
    )
    direct_type = hll_distinct(ev, ["event_type"], "user_id", p=4).select(
        "event_type", F.col("est_distinct").alias("est_direct")
    )
    typed = by_type.join(direct_type, "event_type").select(
        F.lit("event_type").alias("level"),
        "event_type",
        "est_merged",
        "est_direct",
        "regs_used",
    )
    glob = (
        hll_rollup(fine, [], p=4)
        .withColumnRenamed("est_distinct", "est_merged")
        .crossJoin(
            hll_distinct(ev, [], "user_id", p=4).select(
                F.col("est_distinct").alias("est_direct")
            )
        )
        .select(
            F.lit("global").alias("level"),
            F.lit(None).cast("string").alias("event_type"),
            "est_merged",
            "est_direct",
            "regs_used",
        )
    )
    return typed.unionByName(glob)


def q_agg_cms_freq(spark, sf_dir):
    """Count-Min frequency estimates for a probe key set vs the exact
    counts they over-approximate (`aggregate.cms_counters/
    cms_estimate`): O(depth·width) mergeable state however many
    distinct keys, probe join broadcasts the sketch — the per-key
    frequency dashboard a 10^11-distinct-key global groupBy cannot
    serve."""
    from gclog_parser_spark.operators.aggregate import (
        cms_counters,
        cms_estimate,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counters = cms_counters(ev, "user_id")
    probes = ev.where(F.col("user_id") % 15 == 0).select(
        "user_id"
    ).distinct()
    est = cms_estimate(probes, counters, "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    return est.join(exact, "user_id")


def q_gc_grok_access(spark, sf_dir):
    """Generic grok extraction round-trip (`functions/grok.py`):
    synthesize access-log-shaped lines from events, then pull the
    typed fields back out with ONE compiled %{PATTERN:field:type}
    regex running in whole-stage codegen.  The oracle extracts with
    the SAME compiled regex under DuckDB's RE2 — two regex engines,
    one pattern, value-equal fields (the north rule's 'grok/regex
    parse' as a reusable operator, not just the GC grammar)."""
    from gclog_parser_spark.functions.grok import (
        ACCESS_PATTERN,
        grok_parse,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(" - "),
            F.col("event_type"),
            F.lit(" ["),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.lit('] "GET /api/'),
            F.col("event_type"),
            F.lit('" '),
            F.round(F.col("value") * 100).cast("long").cast("string"),
        ).alias("line")
    )
    return grok_parse(lines, "line", ACCESS_PATTERN)


def q_rel_trending(spark, sf_dir):
    """Freshness-weighted counts with EXACT power-of-two exponential
    decay (`aggregate.decayed_counts`): weight 2^-age_days summed as
    BIGINT ticks — associative, bit-identical cross-engine, where a
    float pow(0.5, age) sum would drift with partition order."""
    from gclog_parser_spark.operators.aggregate import decayed_counts

    return decayed_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def q_rel_journeys(spark, sf_dir):
    """Top-20 user journey paths (`aggregate.journey_paths`): 30-min
    sessionization → first-5-step path strings → counted, top-k by
    (count, path).  One user exchange for both windows, map-side path
    collapse, TakeOrderedAndProject top-k."""
    from gclog_parser_spark.operators.aggregate import journey_paths

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return journey_paths(ev)


def q_gc_anomaly_hours(spark, sf_dir):
    """Robust anomaly flags over the hot-hour distribution
    (`aggregate.mad_anomalies`): per-hour page counts → median/MAD →
    flag hours above median + 3·MAD.  The 70 %-hot hour 4 is the
    anomaly by construction — the alerting twin of `gc_key_skew`'s
    diagnosis.  Counts pre-collapse map-side; both stats broadcast as
    single rows, so flagging never reshuffles the counts."""
    from gclog_parser_spark.operators.aggregate import mad_anomalies

    pages = pages_from_documents(spark, sf_dir)
    counts = pages.groupBy(
        F.hour("warc_ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    return mad_anomalies(counts, "n", k=3.0)


def q_emb_neardup(spark, sf_dir):
    """LSH-blocked cosine near-dup pairs.  Exercised at threshold 0.4
    because the synthetic embeddings' max pairwise cosine is ~0.51 —
    at the production 0.9 default the gate would only ever check an
    empty result (production callers keep 0.9)."""
    from gclog_parser_spark.operators.similarity import neardup_pairs

    return neardup_pairs(_embs(spark, sf_dir), threshold=0.4)


def q_emb_knn_graph(spark, sf_dir):
    """Approximate k-NN graph: every vector's top-3 cosine neighbors
    within its LSH bucket — SemDeDup/clustering building block; bucket
    equi-join candidates + WindowGroupLimit per-src top-k
    (operators/similarity.py::knn_graph)."""
    from gclog_parser_spark.operators.similarity import knn_graph

    return knn_graph(_embs(spark, sf_dir), k=3)


def q_media_meta(spark, sf_dir):
    from gclog_parser_spark.operators.multimodal import extract_media_meta

    pages = pages_from_documents(spark, sf_dir)
    return extract_media_meta(pages)


def q_media_neighbors(spark, sf_dir):
    """Multimodal→ANN composition: binary payloads → deterministic
    stand-in embeddings (Arrow mapInPandas, the model-inference shape;
    a real deployment swaps only the per-payload function for the
    encoder forward pass) → exact-BIGINT dot-product top-k around the
    keeper of the largest exact-duplicate payload group.  The
    expected top neighbors are that page's re-crawled byte-copies at
    the maximum score — the encoder sanity check a media pipeline
    runs before trusting embedding dedup
    (operators/multimodal.py::media_embed/media_neighbor_topk)."""
    from gclog_parser_spark.operators.multimodal import (
        media_neighbor_topk,
    )

    return media_neighbor_topk(pages_from_documents(spark, sf_dir))


def q_media_resize(spark, sf_dir):
    """Fake-resize plumbing (stubbed decode, real mapInPandas shape)."""
    from gclog_parser_spark.operators.multimodal import resize_media

    return resize_media(pages_from_documents(spark, sf_dir))


def q_media_frames(spark, sf_dir):
    """Frame-sampling fan-out (one row per sampled 4 KiB window)."""
    from gclog_parser_spark.operators.multimodal import sample_frames

    return sample_frames(pages_from_documents(spark, sf_dir))


def q_media_phash(spark, sf_dir):
    """Perceptual average-hash per media payload (stub decode over
    codepoints, exact integer block-mean bits — the image-dedup
    signature; `multimodal.media_phash`)."""
    from gclog_parser_spark.operators.multimodal import media_phash

    return media_phash(pages_from_documents(spark, sf_dir))


def q_media_phash_pairs(spark, sf_dir):
    """Near-duplicate media by phash Hamming distance via pigeonhole
    banding; the oracle runs the all-pairs plan, so a hash match also
    proves the banded candidates lose no pair within the threshold."""
    from gclog_parser_spark.operators.multimodal import (
        media_phash_pairs,
    )

    return media_phash_pairs(
        pages_from_documents(spark, sf_dir), max_hamming=12, bands=15
    )


def q_media_decode(spark, sf_dir):
    """REAL stdlib media decode (round-5): PNG via zlib inflate +
    per-scanline unfilter (all five PNG filter types appear in the
    corpus), WAV via the ``wave`` module — dims/channels/rates plus a
    full-fidelity digest of every decoded pixel/sample.  The DuckDB
    oracle recomputes the expected values from the generator's closed
    form (it cannot inflate zlib), so a green row proves the whole
    encode→decode round trip against ground truth
    (operators/mediacodec.py; datagen.media_pages)."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        decode_media_features,
    )

    return decode_media_features(media_pages(spark, sf_dir))


def q_media_meta_mixed(spark, sf_dir):
    """extract_media_meta over the real-media corpus: REAL
    width/height + decoded-pixel content digests for PNG, real RIFF
    fields for WAV, stub lane for html — the same meta operator the
    stub corpus uses, now with the stdlib decoders live."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        extract_media_meta,
    )

    return extract_media_meta(
        media_pages(spark, sf_dir), payload_col="payload"
    )


def q_media_resize_real(spark, sf_dir):
    """Real thumbnailer over decodable media: nearest-neighbor PNG
    resample + WAV waveform sketch, digests of the RESAMPLED values
    verified against the oracle's integer re-derivation."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        resize_media_real,
    )

    return resize_media_real(media_pages(spark, sf_dir))


def q_media_phash_real(spark, sf_dir):
    """Average-hash over REAL decoded values (round-5): PNG pixels /
    signed WAV samples from the stdlib decoders (codepoint lane for
    undecodable payloads) — the honest upgrade of media_phash; exact
    integer block-mean bits, zero shuffle
    (operators/multimodal.media_phash_real)."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        media_phash_real,
    )

    return media_phash_real(media_pages(spark, sf_dir))


def q_media_audio_features(spark, sf_dir):
    """REAL audio features over decoded WAV samples (round-5): exact
    integer sum-of-squares energy, peak |s|, zero crossings — the
    audio-quality gate before transcription/encoding
    (operators/multimodal.media_audio_features)."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        media_audio_features,
    )

    return media_audio_features(media_pages(spark, sf_dir))


def q_media_image_stats(spark, sf_dir):
    """REAL image statistics over decoded PNG pixels (round-5): exact
    integer sum/min/max/distinct per image — the image-DQ gate
    (operators/multimodal.media_image_stats)."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        media_image_stats,
    )

    return media_image_stats(media_pages(spark, sf_dir))


def q_corpus_manifest(spark, sf_dir):
    """Per-shard release manifest (round-5): doc count, exact token
    total, id range, order-invariant exact content checksum (60-bit
    md5 ticks summed in DECIMAL(38,0)) for every token-budget shard —
    the release-equality artifact that avoids re-hashing terabytes
    (operators/sampling.corpus_manifest)."""
    from gclog_parser_spark.operators.sampling import corpus_manifest

    return corpus_manifest(_docs(spark, sf_dir), n_groups=SHARD_GROUPS)


def q_rel_table_stats(spark, sf_dir):
    """ANALYZE-style column profile of the events table — one-scan
    multi-aggregate (nulls / exact NDV / numeric min-max / string
    length sums per column); the CBO-statistics collection pass."""
    from gclog_parser_spark.operators.quality import profile_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profile_table(ev)


def q_rel_zorder_scan(spark, sf_dir):
    """Z-order (Morton) clustered rewrite of events + a pruned range
    scan on the SECOND zorder column — the multi-column data-skipping
    layout (Delta OPTIMIZE ZORDER / Iceberg sort-rewrite twin); the
    oracle is the plain BETWEEN filter, proving the clustered rewrite
    + manifest pruning is content-exact.  Both-column skip counts are
    pinned in tests/test_layout.py."""
    from gclog_parser_spark.operators.layout import zorder_table
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir("gps_zorder", sf_dir)
    if cat.current_snapshot_id(base) is None:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        zorder_table(ev, base, ["event_id", "user_id"], n_files=8)
    df, _report = cat.scan_with_pruning(spark, base, "user_id", 0, 3)
    return df.select("event_id", "ts", "user_id", "event_type")


def q_web_pagerank(spark, sf_dir):
    """5-iteration integer-tick PageRank over the deterministic
    events-derived link graph — the web-corpus quality prior; exact
    BIGINT parity with the oracle's unrolled-CTE reimplementation
    (no float tolerance)."""
    from gclog_parser_spark.operators.graph import (
        events_link_graph,
        pagerank,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return pagerank(events_link_graph(ev))


def q_web_triangles(spark, sf_dir):
    """Per-node triangle counts on the link graph via degree
    orientation (out-degree bounded O(√m), so hot-hub wedge explosion
    cannot happen); oracle re-counts with orientation-free a<b<c
    edge-chain joins (operators/graph.py::triangle_counts)."""
    from gclog_parser_spark.operators.graph import (
        events_link_graph,
        triangle_counts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return triangle_counts(events_link_graph(ev))


def q_web_hits(spark, sf_dir):
    """Kleinberg HITS hub/authority ticks on the deterministic events
    link graph — 3 mutual-reinforcement iterations, L1 integer-tick
    normalization (DECIMAL-widened floor division), one edges-join +
    one reduce per half-step (operators/graph.hits).  Oracle is an
    independently unrolled DuckDB CTE over HUGEINT."""
    from gclog_parser_spark.operators.graph import (
        events_link_graph,
        hits,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hits(events_link_graph(ev))


def q_web_degree_dist(spark, sf_dir):
    """Log2-bucketed in/out degree distribution of the link graph
    (round-5): the power-law-tail audit chart, bucketed WITHOUT floats
    via length(bin(deg))-1 with BIGINT-shift bounds — parity needs no
    rounding rule at all (operators/graph.degree_distribution)."""
    from gclog_parser_spark.operators.graph import (
        degree_distribution,
        events_link_graph,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return degree_distribution(events_link_graph(ev))


def q_web_communities(spark, sf_dir):
    """Synchronous label-propagation communities on the deterministic
    events link graph (round-5) — 3 fixed iterations, label update =
    most-frequent-neighbor-label with smallest-label tie-break reduced
    as ``max(struct(cnt, -label))``: pure BIGINT, no update-order or
    hash-partition dependence (the classic LPA nondeterminism pitfall).
    The community splitter next to PageRank (quality prior), triangles
    (local density) and CC (reachability): mirror farms collapse to one
    community for per-community corpus quotas
    (operators/graph.label_propagation)."""
    from gclog_parser_spark.operators.graph import (
        events_link_graph,
        label_propagation,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return label_propagation(events_link_graph(ev))


def _lpa_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled-CTE DuckDB twin of operators/graph.label_propagation —
    same symmetrize/self-loop-drop graph and the same deterministic
    (count DESC, label ASC) argmax, expressed independently as a
    row_number window instead of a struct-max reduce."""
    nv = "(SELECT count(DISTINCT user_id) FROM events)"
    ctes = [
        "edges AS (SELECT DISTINCT user_id AS src,"
        f" event_id % {nv} AS dst FROM events)",
        "und AS (SELECT src AS a, dst AS b FROM edges WHERE src <> dst"
        " UNION SELECT dst, src FROM edges WHERE src <> dst)",
        "l0 AS (SELECT DISTINCT a AS node, CAST(a AS BIGINT)"
        " AS community FROM und)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"c{i} AS (SELECT u.a AS node, l.community AS lbl,"
            " count(*) AS cnt FROM und u"
            f" JOIN l{i-1} l ON l.node = u.b GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{i} AS (SELECT node, lbl AS community FROM"
            f" (SELECT node, lbl, row_number() OVER (PARTITION BY node"
            f" ORDER BY cnt DESC, lbl ASC) AS rn FROM c{i})"
            " WHERE rn = 1)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, community FROM l{n_iter}"
    )


def _hits_oracle_sql(n_iter: int = 3, scale: int = 10**12) -> str:
    """Unrolled-CTE DuckDB HITS twin of operators/graph.hits — same
    integer-tick gather + L1 floor normalization, HUGEINT-widened.

    Every CTE is ``MATERIALIZED``: each score CTE reads its raw CTE
    twice (values and L1 sum), so an inlining planner re-evaluates the
    unrolled chain 2^(2·n_iter) times — over a minute on a 15-node
    graph, against milliseconds materialized.  Same rows either way."""
    nv = "(SELECT count(DISTINCT user_id) FROM events)"
    ctes = [
        "edges AS MATERIALIZED (SELECT DISTINCT user_id AS src,"
        f" event_id % {nv} AS dst FROM events)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        f"h0 AS MATERIALIZED (SELECT node,"
        f" CAST((SELECT {scale} // n FROM nn) AS BIGINT) AS t"
        " FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT nd.node, CAST(coalesce(s.s, 0)"
            " AS BIGINT) AS raw FROM nodes nd LEFT JOIN"
            " (SELECT e.dst AS node, sum(h.t) AS s FROM edges e"
            f" JOIN h{i-1} h ON h.node = e.src GROUP BY 1) s"
            " ON s.node = nd.node)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT node, CAST(CAST(raw AS HUGEINT)"
            f" * {scale} // (SELECT sum(raw) FROM ar{i})"
            f" AS BIGINT) AS t FROM ar{i})"
        )
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT nd.node, CAST(coalesce(s.s, 0)"
            " AS BIGINT) AS raw FROM nodes nd LEFT JOIN"
            " (SELECT e.src AS node, sum(a.t) AS s FROM edges e"
            f" JOIN a{i} a ON a.node = e.dst GROUP BY 1) s"
            " ON s.node = nd.node)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT node, CAST(CAST(raw AS HUGEINT)"
            f" * {scale} // (SELECT sum(raw) FROM hr{i})"
            f" AS BIGINT) AS t FROM hr{i})"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT a.node, a.t AS auth_ticks, h.t AS hub_ticks"
        f" FROM a{n_iter} a JOIN h{n_iter} h ON a.node = h.node"
    )


def _pagerank_oracle_sql(n_iter: int = 5, d: int = 85, scale: int = 10**12) -> str:
    """Unrolled-CTE DuckDB PageRank twin of operators/graph.pagerank —
    same integer-tick formulas, independently expressed."""
    nv = "(SELECT count(DISTINCT user_id) FROM events)"
    ctes = [
        "edges AS (SELECT DISTINCT user_id AS src,"
        f" event_id % {nv} AS dst FROM events)",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)",
        f"r0 AS (SELECT node, CAST((SELECT {scale} // n FROM nn)"
        " AS BIGINT) AS rank_ticks FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"r{i} AS (SELECT nd.node,"
            f" CAST((SELECT ((100-{d})*({scale}//n))//100 FROM nn)"
            f" + ({d} * coalesce(s.s, 0)) // 100 AS BIGINT)"
            " AS rank_ticks"
            " FROM nodes nd LEFT JOIN (SELECT e.dst AS node,"
            " CAST(sum(r.rank_ticks // o.deg) AS BIGINT) AS s"
            " FROM edges e JOIN outdeg o ON e.src = o.src"
            f" JOIN r{i-1} r ON r.node = e.src GROUP BY 1) s"
            " ON s.node = nd.node)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, rank_ticks FROM r{n_iter}"
    )


def q_web_trustrank(spark, sf_dir):
    """Integer-tick TrustRank (round-5) over the deterministic events
    link graph: seeds = user ids divisible by 20 (a stand-in for the
    human-vetted whitelist sample of Gyöngyi et al. 2004), teleport
    mass flows ONLY to seeds so spam farms unreachable from trust hold
    exactly 0 ticks.  The seeded quality prior next to web_pagerank /
    web_hits / web_triangles (operators/graph.trustrank)."""
    from gclog_parser_spark.operators.graph import (
        events_link_graph,
        trustrank,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    seeds = (
        ev.select(F.col("user_id").alias("node"))
        .distinct()
        .where(F.col("node") % 20 == 0)
    )
    return trustrank(events_link_graph(ev), seeds)


def _trustrank_oracle_sql(
    n_iter: int = 5, d: int = 85, scale: int = 10**12
) -> str:
    """Unrolled-CTE DuckDB TrustRank twin of operators/graph.trustrank
    — same integer-tick seeded formulas (t0/base only on seeds, 0
    elsewhere), independently expressed via LEFT JOIN seeds + CASE."""
    nv = "(SELECT count(DISTINCT user_id) FROM events)"
    ctes = [
        "edges AS (SELECT DISTINCT user_id AS src,"
        f" event_id % {nv} AS dst FROM events)",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "seeds AS (SELECT DISTINCT user_id AS node FROM events"
        " WHERE user_id % 20 = 0)",
        "ns AS (SELECT count(*) AS s FROM seeds sd"
        " WHERE sd.node IN (SELECT node FROM nodes))",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)",
        "t0 AS (SELECT n.node, CAST(CASE WHEN sd.node IS NOT NULL"
        f" THEN (SELECT {scale} // s FROM ns) ELSE 0 END AS BIGINT)"
        " AS trust_ticks FROM nodes n"
        " LEFT JOIN seeds sd ON sd.node = n.node)",
    ]
    for i in range(1, n_iter + 1):
        prev = "t0" if i == 1 else f"t{i-1}"
        ctes.append(
            f"t{i} AS (SELECT n.node,"
            " CAST(CASE WHEN sd.node IS NOT NULL THEN"
            f" (SELECT ((100-{d})*({scale}//s))//100 FROM ns)"
            " ELSE 0 END"
            f" + ({d} * coalesce(agg.s, 0)) // 100 AS BIGINT)"
            " AS trust_ticks"
            " FROM nodes n LEFT JOIN seeds sd ON sd.node = n.node"
            " LEFT JOIN (SELECT e.dst AS node,"
            " CAST(sum(t.trust_ticks // o.deg) AS BIGINT) AS s"
            " FROM edges e JOIN outdeg o ON e.src = o.src"
            f" JOIN {prev} t ON t.node = e.src GROUP BY 1) agg"
            " ON agg.node = n.node)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node, trust_ticks FROM t{n_iter}"
    )


def q_snap_eq_delete(spark, sf_dir):
    """Iceberg-v2 merge-on-read equality deletes with data-sequence
    semantics: v1 = all events, v2 = DELETE WHERE user_id IN (0,1,2)
    (no data rewrite), v3 = re-insert a deterministic slice of the
    deleted users.  The read must show survivors + re-inserts only —
    the oracle re-derives that state with plain WHERE/UNION ALL."""
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir("gps_mor", sf_dir)
    if cat.current_snapshot_id(base) != 3:
        shutil.rmtree(base, ignore_errors=True)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        cat.snapshot_write(ev, base)
        kill = spark.createDataFrame([(0,), (1,), (2,)], "user_id bigint")
        cat.equality_delete(kill, base, ["user_id"])
        cat.snapshot_write(
            ev.filter(
                (F.col("user_id") <= 2) & (F.col("event_id") % 7 == 0)
            ),
            base,
        )
    return cat.read_snapshot(spark, base).select(
        "event_id", "ts", "user_id", "event_type"
    )


def q_snap_diff(spark, sf_dir):
    """What changed between two snapshots — time travel × merge-on-read
    × checksum reconciliation: v1 = all events; v2 = equality-DELETE
    users 0-2; v3 = append updated copies (user 0, event_id%7==0,
    value bumped) and brand-new clones (event_id%11==0, shifted ids).
    ``table_diff(read @snapshot 1, read @current)`` must classify every
    key as only_left / changed / only_right exactly as the oracle
    derives from the commit rules directly."""
    from gclog_parser_spark.operators.quality import table_diff
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir("gps_sdiff", sf_dir)
    if cat.current_snapshot_id(base) != 3:
        shutil.rmtree(base, ignore_errors=True)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        cat.snapshot_write(ev, base)
        kill = spark.createDataFrame(
            [(0,), (1,), (2,)], "user_id bigint"
        )
        cat.equality_delete(kill, base, ["user_id"])
        updated = (
            ev.filter(
                (F.col("user_id") == 0) & (F.col("event_id") % 7 == 0)
            ).withColumn("value", F.col("value") + 10.0)
        )
        clones = ev.filter(F.col("event_id") % 11 == 0).withColumn(
            "event_id", F.col("event_id") + F.lit(5_000_000_000)
        )
        cat.snapshot_write(updated.unionByName(clones), base)
    v1 = cat.read_snapshot(spark, base, snapshot_id=1)
    cur = cat.read_snapshot(spark, base)
    return table_diff(v1, cur, key_cols=["event_id"])


def q_dedup_fuzzy(spark, sf_dir):
    """Edit-distance near-dup pairs (prefix-blocked Levenshtein) —
    catches small in-place edits MinHash's bag-of-shingles misses;
    both engines' levenshtein implementations are independent."""
    from gclog_parser_spark.operators.textstats import fuzzy_pairs

    return fuzzy_pairs(_docs(spark, sf_dir))


def q_gc_catalog_fanout(spark, sf_dir):
    """The north rule's exact sink shape: parse → route → fan-out to
    PER-SINK snapshot-catalog tables (one partitioned data pass +
    per-sink metadata commits), then read every sink table back and
    aggregate — the result must equal the relational per-collector
    rollup the oracle computes directly, proving routed-row equality
    through the storage layer."""
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.route import (
        fanout_commit_catalog,
        with_sink,
    )
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir("gps_fanout", sf_dir)
    if not os.path.isdir(base):
        events = with_sink(
            parse_events(pages_from_documents(spark, sf_dir))
        )
        fanout_commit_catalog(events, base)
    parts = []
    for sink in sorted(os.listdir(base)):
        table = os.path.join(base, sink)
        if not os.path.isdir(os.path.join(table, "metadata")):
            continue
        df = cat.read_snapshot(spark, table)
        parts.append(
            df.agg(
                F.count("*").alias("events"),
                F.sum("heap_reclaimed_bytes")
                .cast("long")
                .alias("heap_reclaimed_sum"),
            ).select(F.lit(sink).alias("family"), "events", "heap_reclaimed_sum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_emb_clusters(spark, sf_dir):
    """Embedding-space dedup clusters: LSH-blocked cosine near-dup
    pairs → alternating-star connected components → canonical keeper
    per cluster (the semantic-dedup twin of the MinHash
    `dedup_clusters`); the oracle closes the same pair graph with a
    recursive CTE — two entirely different CC algorithms.  The
    synthetic embeddings' max pairwise cosine is ~0.51, so the
    threshold sits at 0.35 to give the graph real merges (37 blocked
    pairs at sf0.01) — production near-dup keeps 0.9."""
    import pyspark.sql.functions as _F

    from gclog_parser_spark.operators.dedup import connected_components
    from gclog_parser_spark.operators.similarity import neardup_pairs

    embs = _embs(spark, sf_dir)
    pairs = neardup_pairs(embs, threshold=0.35).select("vec_a", "vec_b")
    comp = connected_components(pairs, src="vec_a", dst="vec_b").select(
        _F.col("node").alias("vec_id"),
        _F.col("component").alias("cluster_id"),
    )
    return (
        embs.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            _F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
        .withColumn("is_keeper", _F.col("vec_id") == _F.col("cluster_id"))
    )


def q_rel_range_frame(spark, sf_dir):
    """RANGE-frame rolling window (the frame type the suite didn't yet
    cover — rates/top-k use ROWS frames): per user, the rolling 1-hour
    event count and integer-cents sum over event-time seconds; RANGE
    includes peers at equal timestamps, which ROWS cannot express."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3599, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        epoch.alias("epoch_s"),
        F.count("*").over(w).alias("rolling_n"),
        F.sum(cents).over(w).alias("rolling_cents"),
    )


def q_rel_kmv_distinct(spark, sf_dir):
    """KMV distinct sketch per event_type over user_id — the
    mergeable approx-distinct with a DETERMINISTIC md5-prefix hash, so
    the estimate itself (not just the exact twin) is value-checked
    against the oracle's identical computation; 150 distinct users >
    k=64 exercises the estimation path."""
    from gclog_parser_spark.operators.aggregate import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


def q_rel_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (beyond the ROLLUP/CUBE specials):
    ((type, user), (type), (user), ()) in ONE aggregation pass with
    grouping_id() disambiguating the null-as-ALL rows — the Expand
    operator under the hood; identical ANSI text on both engines."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "events"
    )
    return spark.sql(GROUPING_SETS_SQL)


#: shared ANSI text (both planners implement GROUPING SETS natively)
GROUPING_SETS_SQL = (
    "SELECT event_type, user_id, grouping(event_type) AS g_type,"
    " grouping(user_id) AS g_user, count(*) AS n,"
    " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
    " AS value_cents"
    " FROM events GROUP BY GROUPING SETS"
    " ((event_type, user_id), (event_type), (user_id), ())"
)


def q_rel_gapfill(spark, sf_dir):
    """Time-series densification + LOCF: the hourly rollup has ~7 %
    missing hours per event type; explode a per-type
    sequence(min_hour, max_hour) to a dense axis, left-join the
    observed counts (0-fill), and carry the last OBSERVED count
    forward with last(ignorenulls) — the dashboard/resampling query
    every telemetry store needs.  Scale: the dense axis is
    types × hours (tiny vs events); ONE aggregated exchange builds
    the rollup, one per-type window orders the axis."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = ev.groupBy(
        "event_type",
        F.unix_timestamp(
            F.date_trunc("hour", F.col("ts").cast("timestamp"))
        ).alias("hour_epoch"),
    ).agg(F.count("*").alias("n"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour_epoch").alias("mn"), F.max("hour_epoch").alias("mx")
    )
    dense = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.lit(3600))
        ).alias("hour_epoch"),
    )
    j = dense.join(hourly, ["event_type", "hour_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hour_epoch",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_filled"),
        F.last("n", ignorenulls=True).over(w).cast("long").alias("locf"),
    )


def q_rel_outer_join(spark, sf_dir):
    """FULL OUTER customer⋈orders with null-side accounting — the
    missing-join-type completeness row (inner/semi/anti/asof/range/
    interval are elsewhere): customers without orders and orders
    without customers both survive, aggregated per nation with
    integer-cents sums."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "full_outer")
    return j.groupBy(
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey")
    ).agg(
        F.count("*").alias("rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("no_order"),
        F.sum(F.col("c_custkey").isNull().cast("long")).alias("no_customer"),
        F.sum(
            F.coalesce(F.round(F.col("o_totalprice") * 100), F.lit(0))
            .cast("long")
        ).alias("cents_sum"),
    )


def q_rel_correlated_subq(spark, sf_dir):
    """Correlated subqueries through BOTH engines' planners: orders
    above their customer's average order value (correlated scalar
    subquery) that have at least one lineitem (correlated EXISTS).
    Catalyst decorrelates to joins; DuckDB runs its own flattening —
    two independent subquery planners checked equal."""
    sql = CORRELATED_SQL
    for t in ("orders", "lineitem"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql(sql)


#: integer-exact "above the customer's average" via cross-multiplied
#: cents (cents·cnt > Σcents) — no float averaging, so the boundary
#: set is identical in both engines; ANSI text runs verbatim on both
CORRELATED_SQL = (
    "SELECT o_orderkey, o_custkey,"
    " CAST(round(o_totalprice * 100) AS BIGINT) AS cents"
    " FROM orders o"
    " WHERE CAST(round(o_totalprice * 100) AS BIGINT)"
    "  * (SELECT count(*) FROM orders o2"
    "     WHERE o2.o_custkey = o.o_custkey)"
    "  > (SELECT CAST(sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))"
    "     AS BIGINT) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)"
    " AND EXISTS (SELECT 1 FROM lineitem l"
    "  WHERE l.l_orderkey = o.o_orderkey)"
)


BM25_TERMS = ["data", "table", "spark"]


def q_text_postings(spark, sf_dir):
    """Inverted-index postings (word, doc, tf, first position) — the
    corpus search index build; oracle = DuckDB unnest+subscripts."""
    from gclog_parser_spark.operators.textstats import postings

    return postings(_docs(spark, sf_dir))


def q_text_bm25(spark, sf_dir):
    """BM25 top-10 per query term with a transcendental-free rational
    idf — bit-comparable doubles across engines, deterministic
    (rounded score, doc_id) ranking."""
    from gclog_parser_spark.operators.textstats import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS)


def q_text_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking and the embedding-cosine ranking (RAG first-stage
    retriever; operators/textstats.py::hybrid_rrf_topk).  Integer-tick
    lexical sums, two fixed-order IEEE reciprocals, doc_id
    tie-breaks — bit-comparable across engines."""
    from gclog_parser_spark.operators.textstats import hybrid_rrf_topk

    return hybrid_rrf_topk(
        _docs(spark, sf_dir), _embs(spark, sf_dir), BM25_TERMS
    )


def q_rel_anomaly_hours(spark, sf_dir):
    """Rate-anomaly detection: per event_type, flag hours whose count
    exceeds mean + 2·σ (population σ from integer sums — the float
    math reduces over exact integers, so both engines agree to the
    bit); the telemetry alerting query over the hourly rollup."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp")))
        .alias("hour_epoch"),
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("h"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("s1").cast("double") / F.col("h")
    var = (
        F.col("s2").cast("double") / F.col("h") - mean * mean
    )
    sigma = F.sqrt(var)
    z = (F.col("n") - mean) / sigma
    return (
        j.filter(
            (sigma > 0) & (F.col("n").cast("double") > mean + 2.0 * sigma)
        )
        .select(
            "event_type",
            "hour_epoch",
            "n",
            F.round(z, 6).alias("zscore"),
        )
    )


def q_snap_wap_publish(spark, sf_dir):
    """Write-audit-publish: even event_ids are the published base, odd
    event_ids go through stage → dq-audit (null/range checks on the
    STAGED rows only) → atomic publish; the read of the current
    snapshot must equal the full events table (oracle: SELECT * —
    WAP must be lossless when the audit passes)."""
    from gclog_parser_spark.operators.quality import (
        dq_report,
        null_check,
        range_check,
    )
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir("gps_wap", sf_dir)
    if cat.current_snapshot_id(base) != 2:
        shutil.rmtree(base, ignore_errors=True)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        cat.snapshot_write(ev.filter(F.col("event_id") % 2 == 0), base)
        tok = cat.stage_write(ev.filter(F.col("event_id") % 2 == 1), base)
        staged = cat.read_staged(spark, base, tok)
        audit = dq_report(
            [
                null_check(staged, "user_id", "user_not_null"),
                range_check(staged, "value", 0.0, 10**6, "value_range"),
            ]
        )
        if not all(r["passed"] for r in audit.collect()):
            cat.abort_staged(base, tok)
            raise AssertionError("WAP audit failed on clean data")
        cat.publish_staged(base, tok)
    return cat.read_snapshot(spark, base).select(
        "event_id", "ts", "user_id", "event_type", "props"
    )


def _snap_table(spark, sf_dir, tag: str, n_appends: int = 3) -> str:
    """Build (once per sf_dir per process) a snapshot-catalog table of
    the events rows, committed as ``n_appends`` deterministic appends
    split on ``event_id % n_appends`` — the fixture for the
    time-travel / incremental / pruning contract queries.  The split is
    pure modular arithmetic so DuckDB can express each snapshot's
    contents as a WHERE clause."""
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir(f"gps_snap_{tag}", sf_dir)
    if cat.current_snapshot_id(base) == n_appends:
        return base
    shutil.rmtree(base, ignore_errors=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for i in range(n_appends):
        cat.snapshot_write(
            ev.filter(F.col("event_id") % n_appends == i), base, "append"
        )
    return base


def _dpp_table(spark, sf_dir) -> str:
    """Build (once per sf_dir per process) a DATE-PARTITIONED parquet
    table of the events — the fixture for the dynamic-partition-pruning
    query.  Hive-style day=... directories, so partition pruning is a
    directory listing, not a data scan."""
    base = _fixture_dir("gps_dpp", sf_dir)
    marker = os.path.join(base, "_SUCCESS")
    if not os.path.exists(marker):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (
            ev.withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(base)
        )
    return base


def q_rel_dpp_scan(spark, sf_dir):
    """Dynamic partition pruning: the fact table is Hive-partitioned by
    day; the dim side (distinct days flagged by day-of-month % 3 == 0)
    is filtered and broadcast; Catalyst injects the dim's surviving
    keys as a runtime partition filter on the fact SCAN — the fact
    partitions for non-matching days are never read, which at 100 TB is
    the difference between scanning a year and scanning the ten days a
    dashboard asked for.  The ``dynamicpruning`` subquery in the fact
    scan's PartitionFilters is pinned in tests/test_plan_lint.py."""
    fact = spark.read.parquet(_dpp_table(spark, sf_dir))
    dim = (
        fact.select("day").distinct()
        .where(F.dayofmonth("day") % 3 == 0)
        .select(F.col("day").alias("d"))
    )
    return (
        fact.join(F.broadcast(dim), fact.day == dim.d)
        .groupBy("day")
        .agg(
            F.count("*").alias("events"),
            F.sum(pause_ticks("value")).alias("value_ticks_sum"),
            F.countDistinct("user_id").alias("users"),
        )
    )


def q_snap_time_travel(spark, sf_dir):
    """Iceberg-style time travel: read the snapshot-catalog table AS OF
    snapshot 2 (of 3 appends) and aggregate — proves the manifest tree
    reconstructs a historical table state exactly (oracle: the modular
    predicate that defined the first two commits)."""
    from gclog_parser_spark.sources import catalog as cat

    table = _snap_table(spark, sf_dir, "tt")
    df = cat.read_snapshot(spark, table, snapshot_id=2)
    return df.groupBy("event_type").agg(
        F.count("*").alias("events"),
        F.sum(pause_ticks("value")).alias("value_ticks_sum"),
        F.countDistinct("user_id").alias("users"),
    )


def q_snap_incremental(spark, sf_dir):
    """Incremental (CDC-consumer) read: exactly the rows appended
    after snapshot 1 up to snapshot 3, computed as a manifest-set
    difference — no data diffing, no full scan of the base."""
    from gclog_parser_spark.sources import catalog as cat

    table = _snap_table(spark, sf_dir, "tt")
    df = cat.incremental_read(spark, table, from_snapshot=1, to_snapshot=3)
    return df.groupBy("event_type").agg(
        F.count("*").alias("events"),
        F.sum(pause_ticks("value")).alias("value_ticks_sum"),
    )


def q_rel_nullsafe_join(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): a derived
    key that is NULL for every tenth event joins two per-key aggregates
    so the NULL group MATCHES ITSELF — the semantic a plain `=` join
    silently drops (NULL = NULL is NULL, and at web scale the
    unknown-key bucket is often the biggest one).  Spark compiles
    EqualNullSafe into a hash-joinable composite key
    ``[coalesce(k, 0), isnull(k)]`` — a real equi-join, never a
    nested-loop filter; DuckDB runs the same ANSI
    IS NOT DISTINCT FROM."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    key = F.when(
        F.col("event_id") % 10 != 0, F.pmod("user_id", F.lit(50))
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy(key.alias("k"))
        .agg(F.count("*").alias("n_clicks"))
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy(key.alias("k"))
        .agg(F.count("*").alias("n_views"))
    )
    return (
        clicks.alias("c")
        .join(views.alias("v"), F.col("c.k").eqNullSafe(F.col("v.k")))
        .select(
            F.col("c.k").alias("k"), "n_clicks", "n_views"
        )
    )


def q_rel_mv_refresh(spark, sf_dir):
    """Incremental materialized-view maintenance: the per-type
    aggregate MV state is built from the BASE snapshot (commits 1-2 of
    the snapshot-catalog table), the DELTA state from the CDC
    incremental read of commit 3 only, and the two merge — count/sum/
    min/max are algebraic, so merge(state(base), state(delta)) ==
    state(whole) exactly, which is what the oracle's whole-table
    aggregate checks.  At 10^12 accumulated rows this is the
    difference between a per-commit full recompute and a per-commit
    delta scan (operators/aggregate.py::agg_state/merge_agg_states;
    delta via sources/catalog.py::incremental_read — a manifest-set
    difference, no base scan)."""
    from gclog_parser_spark.operators.aggregate import (
        agg_state,
        merge_agg_states,
    )
    from gclog_parser_spark.sources import catalog as cat

    table = _snap_table(spark, sf_dir, "tt")
    base = cat.read_snapshot(spark, table, snapshot_id=2)
    delta = cat.incremental_read(
        spark, table, from_snapshot=2, to_snapshot=3
    )
    return merge_agg_states([agg_state(base), agg_state(delta)])


def q_snap_prune_scan(spark, sf_dir):
    """Stats-based file skipping: range-clustered commits, then a range
    scan planned from manifest min/max — files outside [260, 490] are
    never opened (skip count pinned in tests/test_catalog.py); the
    oracle is the plain BETWEEN filter, proving pruning never changes
    results."""
    from gclog_parser_spark.sources import catalog as cat

    base = _fixture_dir("gps_snap_rng", sf_dir)
    if cat.current_snapshot_id(base) is None:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        hi = ev.agg(F.max("event_id")).first()[0]
        step = max(1, (int(hi) + 4) // 4)
        for lo in range(0, int(hi) + 1, step):
            part = ev.filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < lo + step)
            ).coalesce(1)
            cat.snapshot_write(part, base, "append")
    df, _report = cat.scan_with_pruning(spark, base, "event_id", 260, 490)
    return df.select("event_id", "ts", "user_id", "event_type")


#: the synthetic corpus has no newlines, so the line-granularity ops
#: derive a lined view first: a newline after every 8th word, written
#: independently in each engine (Spark Java-regex $1 backref vs DuckDB
#: RE2 \1) — 8 chosen so cross-doc duplicate texts share many lines
LINE_WRAP_RE = r"((\S+ ){7}\S+) "


def _lined_docs(spark, sf_dir):
    return _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", LINE_WRAP_RE, "$1\n")
    )


def q_corpus_dsir(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): raw corpus scored
    against a target slice (the en docs with doc_id % 7 == 0 — a
    stand-in for 'wiki-like quality data') via hashed unigram feature
    ratios.  Rational tf-weighted mean ratio instead of the paper's
    log-likelihood sum keeps both engines bit-identical
    (operators/sampling.py::importance_weights); downstream,
    corpus_weighted_sample consumes exactly this shape of weight."""
    from gclog_parser_spark.operators.sampling import importance_weights

    docs = _docs(spark, sf_dir)
    target = docs.where(
        (F.col("lang") == "en") & (F.col("doc_id") % 7 == 0)
    )
    return importance_weights(docs, target, n_buckets=1024)


def q_text_ccnet_buckets(spark, sf_dir):
    """CC-Net corpus bucketing (Wenzek et al. 2020): self-trained
    unigram surprisal → per-language head/middle/tail terciles, the
    crawl-filtering step that needs no external model.  Rational
    surprisal ticks keep it transcendental-free (1-ulp libm drift
    would flip near-tie tile edges), integer cross-row sums keep both
    engines bit-identical (operators/textstats.py::
    unigram_surprisal_buckets)."""
    from gclog_parser_spark.operators.textstats import (
        unigram_surprisal_buckets,
    )

    return unigram_surprisal_buckets(_docs(spark, sf_dir))


def q_text_lm_score(spark, sf_dir):
    """KenLM-filter shape: interpolated bigram LM trained on the
    hash-split train docs, scoring every doc — held-out fluency
    measured by a model that never saw the doc.  Exact-rational
    inverse-probability ticks (one IEEE division per position, BIGINT
    sums) keep both engines bit-identical
    (operators/textstats.py::bigram_lm_score)."""
    from gclog_parser_spark.operators.textstats import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir))


def q_text_span_dedup(spark, sf_dir):
    """ExactSubstr-style dedup (Lee et al., ACL 2022): corpus-wide
    duplicated word 5-grams mark the tokens they cover; covered tokens
    are removed and the survivors re-joined.  The paper's suffix array
    has no distributed form — the relational plan is k-gram postings →
    global occurrence count → semi-join → per-doc ROWS-frame coverage
    window (operators/dedup.py::span_dedup).  The oracle builds its
    grams by list-slicing over an unnested range — a structurally
    different construction that must produce byte-identical
    clean_text."""
    from gclog_parser_spark.operators.dedup import span_dedup

    return span_dedup(_docs(spark, sf_dir), k=5)


def q_text_line_dedup(spark, sf_dir):
    """C4-style corpus-wide exact line dedup: each distinct line keeps
    only its first (doc_id, pos) occurrence.  Spark plans the keeper as
    a partial-aggregated min(struct) + equi-join (skew-proof); the
    oracle uses the row_number-over-line window — two different
    algorithms for the same rule."""
    from gclog_parser_spark.operators.textstats import line_dedup

    return line_dedup(_lined_docs(spark, sf_dir))


#: deterministic messy tail for the normalization query: combining
#: acute (NFC composes e+0301 -> é), combining ring (A+030A -> Å),
#: zero-width space, double space, NBSP, a BEL control char
MESSY_SUFFIX = (
    " Cafe\u0301 A\u030a\u200bskew \u00a0 tail\u0007end"
)


def q_text_normalize(spark, sf_dir):
    """Unicode NFC + control-strip + whitespace-collapse over the corpus
    with a constructed messy tail (the synthetic text is pure ASCII, so
    the tail is what makes NFC composition observable).  Spark's NFC is
    CPython unicodedata via an Arrow-batched pandas UDF; DuckDB's is
    utf8proc — two independent Unicode implementations value-checked."""
    from gclog_parser_spark.operators.textstats import normalize_text

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat("text", F.lit(MESSY_SUFFIX))
    )
    return normalize_text(docs)


#: ANSI text run VERBATIM on both engines (like CORRELATED_SQL): top-2
#: customers per nation by exact integer cents through a correlated
#: LATERAL subquery with ORDER BY + LIMIT — Catalyst plans it via
#: DomainJoin decorrelation + per-key limit, DuckDB via its own
#: dependent-join flattening; deterministic tie-break on cust_name
LATERAL_TOPK_SQL = (
    "SELECT n.n_name AS nation, s.cust_name, s.bal_cents"
    " FROM nation n JOIN LATERAL ("
    "  SELECT c_name AS cust_name,"
    "   CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents"
    "  FROM customer c"
    "  WHERE c.c_nationkey = n.n_nationkey"
    "  ORDER BY bal_cents DESC, cust_name ASC LIMIT 2"
    " ) s ON TRUE"
)


def q_rel_lateral_topk(spark, sf_dir):
    for t in ("nation", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql(LATERAL_TOPK_SQL)


#: queries with no DuckDB oracle (driver records a rows-only check) —
#: none since round 2: the export formats now have independent DuckDB
#: oracles (oracle.tsv_export_sql / graphite_export_sql) on top of the
#: byte-level reference-golden parity in tests/test_sources_export.py.
ROWS_ONLY: set[str] = set()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_kcore": q_dedup_kcore,
        "dedup_coreness": q_dedup_coreness,
        "dedup_cross_source": q_dedup_cross_source,
        "dedup_verified_pairs": q_dedup_verified_pairs,
        "dedup_clusters": q_dedup_clusters,
        "corpus_split": q_corpus_split,
        "corpus_sample": q_corpus_sample,
        "corpus_quota": q_corpus_quota,
        "corpus_leakage_split": q_corpus_leakage_split,
        "corpus_contamination": q_corpus_contamination,
        "corpus_weighted_sample": q_corpus_weighted_sample,
        "corpus_shards": q_corpus_shards,
        "corpus_filter": q_corpus_filter,
        "text_repetition": q_text_repetition,
        "text_scrub": q_text_scrub,
        "text_boilerplate": q_text_boilerplate,
        "dedup_simhash": q_dedup_simhash,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_prefix_jaccard": q_dedup_prefix_jaccard,
        "dedup_recall": q_dedup_recall,
        "dedup_containment": q_dedup_containment,
        "text_quality": q_text_quality,
        "text_readability": q_text_readability,
        "text_cooccur": q_text_cooccur,
        "text_classifier": q_text_classifier,
        "corpus_domain_mix": q_corpus_domain_mix,
        "dedup_survivors": q_dedup_survivors,
        "text_oov": q_text_oov,
        "text_bpe_merges": q_text_bpe_merges,
        "corpus_pack": q_corpus_pack,
        "dedup_incremental": q_dedup_incremental,
        "dedup_stream_incremental": q_dedup_stream_incremental,
        "corpus_drift": q_corpus_drift,
        "rel_scd2": q_rel_scd2,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "corpus_effective_tokens": q_corpus_effective_tokens,
        "doc_fingerprint": q_doc_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_trained_topk": q_ann_ivf_trained,
        "ann_quantized_topk": q_ann_quantized_topk,
        "ann_quant_error": q_ann_quant_error,
        "web_url_facets": q_web_url_facets,
        "web_crawl_budget": q_web_crawl_budget,
        "gc_key_skew": q_gc_key_skew,
        "agg_hll_distinct": q_agg_hll_distinct,
        "agg_hll_rollup": q_agg_hll_rollup,
        "rel_stream_hll": q_rel_stream_hll,
        "rel_stream_late": q_rel_stream_late,
        "gc_anomaly_hours": q_gc_anomaly_hours,
        "agg_cms_freq": q_agg_cms_freq,
        "rel_journeys": q_rel_journeys,
        "rel_trending": q_rel_trending,
        "gc_grok_access": q_gc_grok_access,
        "emb_neardup": q_emb_neardup,
        "emb_knn_graph": q_emb_knn_graph,
        "media_meta": q_media_meta,
        "media_neighbors": q_media_neighbors,
        "media_resize": q_media_resize,
        "media_frames": q_media_frames,
        "media_phash": q_media_phash,
        "media_phash_pairs": q_media_phash_pairs,
        "media_decode": q_media_decode,
        "media_meta_mixed": q_media_meta_mixed,
        "media_resize_real": q_media_resize_real,
        "media_phash_real": q_media_phash_real,
        "media_audio_features": q_media_audio_features,
        "media_image_stats": q_media_image_stats,
        "corpus_manifest": q_corpus_manifest,
        "gc_event_counts": q_gc_event_counts,
        "gc_events_full": q_gc_events_full,
        "gc_events_full_window": q_gc_events_full_window,
        "gc_limit_per_log": q_gc_limit_per_log,
        "gc_unified_parse": q_gc_unified_parse,
        "gc_g1_parse": q_gc_g1_parse,
        "gc_zgc_parse": q_gc_zgc_parse,
        "gc_zgc_gen_parse": q_gc_zgc_gen_parse,
        "gc_unified_cms_parse": q_gc_unified_cms_parse,
        "gc_unified_regions": q_gc_unified_regions,
        "gc_safepoints": q_gc_safepoints,
        "gc_safepoint_stats": q_gc_safepoint_stats,
        "gc_zgc_stalls": q_gc_zgc_stalls,
        "gc_g1_evac_failures": q_gc_g1_evac_failures,
        "gc_g1_humongous": q_gc_g1_humongous,
        "gc_g1_humongous_stats": q_gc_g1_humongous_stats,
        "gc_zgc_stall_stats": q_gc_zgc_stall_stats,
        "gc_stall_rootcause": q_gc_stall_rootcause,
        "gc_cpu_times": q_gc_cpu_times,
        "gc_heap_trend": q_gc_heap_trend,
        "gc_cms_spans": q_gc_cms_spans,
        "gc_fullgc_pressure": q_gc_fullgc_pressure,
        "gc_overhead": q_gc_overhead,
        "gc_pause_cusum": q_gc_pause_cusum,
        "gc_slo_burn": q_gc_slo_burn,
        "gc_fleet_scorecard": q_gc_fleet_scorecard,
        "gc_pause_jitter": q_gc_pause_jitter,
        "gc_stream_jitter": q_gc_stream_jitter,
        "gc_stream_slo_burn": q_gc_stream_slo_burn,
        "gc_stream_cusum": q_gc_stream_cusum,
        "gc_tsv_export": q_gc_tsv_export,
        "gc_graphite_export": q_gc_graphite_export,
        "gc_rates": q_gc_rates,
        "gc_sessions": q_gc_sessions,
        "gc_pause_by_family": q_gc_pause_by_family,
        "gc_per_sink_hourly": q_gc_per_sink_hourly,
        "gc_per_sink_hourly_salted": q_gc_per_sink_hourly_salted,
        "gc_stream_hourly": q_gc_stream_hourly,
        "gc_stream_dedup": q_stream_dedup,
        "gc_events_per_collector": q_gc_events_per_collector,
        "gc_appstopped": q_gc_appstopped,
        "gc_region_deltas": q_gc_region_deltas,
        "gc_region_kind_rollup": q_gc_region_kind_rollup,
        "gc_heap_mode_counts": q_gc_heap_mode_counts,
        "gc_heap_mode_counts_window": q_gc_heap_mode_counts_window,
        "rel_agg_lineitem": q_rel_agg_lineitem,
        "rel_topk_orders": q_rel_topk_orders,
        "rel_join_agg": q_rel_join_agg,
        "rel_shuffle_join": q_rel_shuffle_join,
        "rel_bloom_join": q_rel_bloom_join,
        "rel_bucketed_join": q_rel_bucketed_join,
        "rel_asof_join": q_rel_asof_join,
        "rel_range_join": q_rel_range_join,
        "rel_sliding_window": q_rel_sliding_window,
        "rel_stream_sliding": q_rel_stream_sliding,
        "rel_interval_join": q_rel_interval_join,
        "rel_multiway_join": q_rel_multiway_join,
        "text_ngrams": q_text_ngrams,
        "text_heavy_hitters": q_text_heavy_hitters,
        "rel_window_suite": q_rel_window_suite,
        "rel_transitions": q_rel_transitions,
        "rel_retention": q_rel_retention,
        "rel_funnel": q_rel_funnel,
        "rel_resample": q_rel_resample,
        "rel_dq_audit": q_rel_dq_audit,
        "rel_dq_checks": q_rel_dq_checks,
        "emb_dq_checks": q_emb_dq_checks,
        "rel_session_window": q_rel_session_window,
        "rel_recursive_cte": q_rel_recursive_cte,
        "rel_variant_extract": q_rel_variant_extract,
        "rel_percentiles": q_rel_percentiles,
        "rel_cdc_latest": q_rel_cdc_latest,
        "rel_cdc_upsert": q_rel_cdc_upsert,
        "corpus_compact": q_corpus_compact,
        "rel_unpivot": q_rel_unpivot,
        "rel_shuffle_join_salted": q_rel_shuffle_join_salted,
        "rel_stream_join": q_rel_stream_join,
        "rel_json_extract": q_rel_json_extract,
        "rel_global_topn": q_rel_global_topn,
        "gc_pause_histogram": q_gc_pause_histogram,
        "text_decontam": q_text_decontam,
        "text_decontam_bloom": q_text_decontam_bloom,
        "text_c4_lines": q_text_c4_lines,
        "text_encoding": q_text_encoding,
        "text_lang_agreement": q_text_lang_agreement,
        "corpus_ngram_diversity": q_corpus_ngram_diversity,
        "corpus_epoch_shuffle": q_corpus_epoch_shuffle,
        "text_tfidf": q_text_tfidf,
        "text_chunks": q_text_chunks,
        "rel_semi_join": q_rel_semi_join,
        "rel_anti_join": q_rel_anti_join,
        "rel_rollup": q_rel_rollup,
        "rel_cube": q_rel_cube,
        "rel_except": q_rel_except,
        "rel_intersect": q_rel_intersect,
        "gc_urls_per_sink": q_gc_urls_per_sink,
        "gc_pivot_family": q_gc_pivot_family,
        "rel_table_stats": q_rel_table_stats,
        "rel_zorder_scan": q_rel_zorder_scan,
        "web_pagerank": q_web_pagerank,
        "web_hits": q_web_hits,
        "web_triangles": q_web_triangles,
        "web_communities": q_web_communities,
        "web_degree_dist": q_web_degree_dist,
        "web_trustrank": q_web_trustrank,
        "snap_time_travel": q_snap_time_travel,
        "rel_dpp_scan": q_rel_dpp_scan,
        "rel_mv_refresh": q_rel_mv_refresh,
        "rel_nullsafe_join": q_rel_nullsafe_join,
        "rel_stream_upsert": q_rel_stream_upsert,
        "snap_incremental": q_snap_incremental,
        "snap_prune_scan": q_snap_prune_scan,
        "snap_wap_publish": q_snap_wap_publish,
        "dedup_fuzzy": q_dedup_fuzzy,
        "snap_eq_delete": q_snap_eq_delete,
        "text_postings": q_text_postings,
        "text_bm25": q_text_bm25,
        "text_hybrid_rrf": q_text_hybrid_rrf,
        "rel_anomaly_hours": q_rel_anomaly_hours,
        "rel_outer_join": q_rel_outer_join,
        "rel_correlated_subq": q_rel_correlated_subq,
        "rel_gapfill": q_rel_gapfill,
        "rel_stream_sessions": q_rel_stream_sessions,
        "gc_catalog_fanout": q_gc_catalog_fanout,
        "rel_grouping_sets": q_rel_grouping_sets,
        "rel_kmv_distinct": q_rel_kmv_distinct,
        "rel_quantile_sketch": q_rel_quantile_sketch,
        "rel_kmv_intersect": q_rel_kmv_intersect,
        "rel_range_frame": q_rel_range_frame,
        "emb_clusters": q_emb_clusters,
        "text_line_dedup": q_text_line_dedup,
        "text_span_dedup": q_text_span_dedup,
        "text_ccnet_buckets": q_text_ccnet_buckets,
        "text_lm_score": q_text_lm_score,
        "corpus_dsir": q_corpus_dsir,
        "text_normalize": q_text_normalize,
        "rel_lateral_topk": q_rel_lateral_topk,
        "web_blocklist": q_web_blocklist,
        "web_canonical_urls": q_web_canonical_urls,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "rel_table_diff": q_rel_table_diff,
        "gc_source_lines": q_gc_source_lines,
        "rel_kmv_merge": q_rel_kmv_merge,
        "gc_stream_source_counts": q_gc_stream_source_counts,
        "snap_diff": q_snap_diff,
        "ann_recall": q_ann_recall,
        "emb_label_stats": q_emb_label_stats,
        "emb_rproj": q_emb_rproj,
        "emb_matryoshka": q_emb_matryoshka,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from gclog_parser_spark import oracle_text as ot

    g = oracle.gcline_prefix
    h = oracle.heap_prefix
    fam = oracle.family_values()
    kind = oracle.kind_values()
    ticks = "CAST(round({} * 10000000) AS BIGINT)"
    out = {}

    out["gc_event_counts"] = g() + (
        "SELECT gc_class, gc_type, count(*) AS events,"
        " count(DISTINCT url) AS urls FROM gc_events GROUP BY 1, 2"
    )

    out["gc_events_full"] = g() + (
        "SELECT url, event_idx, event_epoch_ms, tz_offset,"
        " jvm_age_seconds, gc_class, gc_type, gc_cause,"
        " heap_before_bytes, heap_after_bytes, heap_max_bytes,"
        " heap_reclaimed_bytes, pause_seconds, gen_count,"
        " promoted_bytes, desired_survivor_size, new_threshold,"
        " stopped_seconds, seconds_to_stop FROM gc_events"
    )

    # same oracle for both physical parse strategies
    out["gc_events_full_window"] = out["gc_events_full"]

    out["gc_limit_per_log"] = g() + (
        "SELECT url, event_idx, gc_type, jvm_age_seconds FROM ("
        " SELECT url, event_idx, gc_type, jvm_age_seconds,"
        "  row_number() OVER (PARTITION BY url ORDER BY event_idx) AS rn"
        " FROM gc_events) WHERE rn <= 3"
    )

    out["gc_unified_parse"] = oracle.unified_sql()
    out["gc_g1_parse"] = oracle.g1_legacy_sql()
    out["gc_zgc_parse"] = oracle.zgc_sql()
    out["gc_zgc_gen_parse"] = oracle.zgc_gen_sql()
    from gclog_parser_spark.fixtures import CMS_UNIFIED_LOG

    out["gc_unified_cms_parse"] = oracle.unified_sql(CMS_UNIFIED_LOG)
    out["gc_unified_regions"] = oracle.unified_regions_sql()
    out["gc_safepoints"] = oracle.safepoints_sql()
    out["gc_safepoint_stats"] = oracle.safepoint_stats_sql()
    out["gc_zgc_stalls"] = oracle.gc_stalls_sql()
    out["gc_g1_evac_failures"] = oracle.g1_evac_failures_sql()
    out["gc_g1_humongous"] = oracle.g1_humongous_sql()
    out["gc_g1_humongous_stats"] = oracle.g1_humongous_stats_sql()
    out["gc_zgc_stall_stats"] = oracle.gc_stall_stats_sql()
    out["gc_stall_rootcause"] = oracle.stall_rootcause_sql()
    out["gc_cpu_times"] = oracle.cpu_times_sql()
    out["gc_heap_trend"] = oracle.heap_trend_sql()
    out["gc_cms_spans"] = oracle.cms_spans_sql()
    out["gc_fullgc_pressure"] = oracle.fullgc_pressure_sql()
    out["gc_overhead"] = oracle.gc_overhead_sql()
    out["gc_pause_cusum"] = oracle.pause_cusum_sql()
    out["gc_slo_burn"] = oracle.slo_burn_sql()
    out["gc_fleet_scorecard"] = oracle.fleet_scorecard_sql()
    out["gc_pause_jitter"] = oracle.pause_jitter_sql()
    # stream twin shares the batch oracle (stream ≡ batch, like cusum)
    out["gc_stream_jitter"] = oracle.pause_jitter_sql()
    out["gc_stream_slo_burn"] = oracle.slo_burn_sql()
    # the stream must equal the batch operator, so it shares its oracle
    out["gc_stream_cusum"] = oracle.pause_cusum_sql()

    out["gc_tsv_export"] = oracle.tsv_export_sql()
    out["gc_graphite_export"] = oracle.graphite_export_sql()

    out["gc_rates"] = g(oracle.RATED_CTE) + (
        "SELECT url, event_idx, bytes_allocated_since_last,"
        " millis_since_last, heap_allocation_rate, promotion_rate"
        " FROM rates"
    )

    out["gc_sessions"] = g(
        """sess_flagged AS (
  SELECT url, event_idx, jvm_age_seconds, pause_seconds,
    CASE WHEN lag(jvm_age_seconds) OVER w IS NULL
           OR jvm_age_seconds - lag(jvm_age_seconds) OVER w > 30.0
         THEN 1 ELSE 0 END AS is_new
  FROM gc_events
  WINDOW w AS (PARTITION BY url ORDER BY event_idx)
),
sessions AS (
  SELECT *, CAST(sum(is_new) OVER (
      PARTITION BY url ORDER BY event_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT)
    AS session_id
  FROM sess_flagged
)"""
    ) + (
        "SELECT url, session_id, count(*) AS n_events,"
        " round(min(jvm_age_seconds), 6) AS start_age,"
        " round(max(jvm_age_seconds), 6) AS end_age,"
        " round(sum(pause_seconds), 6) AS total_pause"
        " FROM sessions GROUP BY 1, 2"
    )

    out["gc_pause_by_family"] = g(fam) + (
        "SELECT coalesce(f.family, CASE WHEN e.gc_type LIKE 'CMS%'"
        " THEN 'cms_concurrent' ELSE 'other' END) AS family,"
        " count(*) AS events, CAST(sum("
        + ticks.format("e.pause_seconds")
        + ") AS BIGINT) AS pause_ticks_sum"
        " FROM gc_events e LEFT JOIN family_dim f USING (gc_type)"
        " GROUP BY 1"
    )

    out["gc_per_sink_hourly"] = g(fam) + (
        "SELECT coalesce(f.family, CASE WHEN e.gc_type LIKE 'CMS%'"
        " THEN 'cms_concurrent' ELSE 'other' END) AS sink,"
        " CAST(epoch(date_trunc('hour', e.warc_ts)) AS BIGINT)"
        "   AS hour_epoch,"
        " count(*) AS events,"
        " CAST(sum(e.heap_reclaimed_bytes) AS BIGINT) AS heap_reclaimed_sum,"
        " round(quantile_cont(e.pause_seconds, 0.5), 6) AS pause_p50,"
        " round(quantile_cont(e.pause_seconds, 0.99), 6) AS pause_p99"
        " FROM gc_events e LEFT JOIN family_dim f USING (gc_type)"
        " GROUP BY 1, 2"
    )

    out["gc_per_sink_hourly_salted"] = g(fam) + (
        "SELECT coalesce(f.family, CASE WHEN e.gc_type LIKE 'CMS%'"
        " THEN 'cms_concurrent' ELSE 'other' END) AS sink,"
        " CAST(epoch(date_trunc('hour', e.warc_ts)) AS BIGINT)"
        "   AS hour_epoch,"
        " count(*) AS events,"
        " CAST(sum(e.heap_reclaimed_bytes) AS BIGINT) AS heap_reclaimed_sum"
        " FROM gc_events e LEFT JOIN family_dim f USING (gc_type)"
        " GROUP BY 1, 2"
    )

    # the streaming aggregate must equal the batch aggregate
    out["gc_stream_hourly"] = out["gc_per_sink_hourly_salted"]

    out["gc_events_per_collector"] = g(fam) + (
        "SELECT coalesce(f.family, CASE WHEN e.gc_type LIKE 'CMS%'"
        " THEN 'cms_concurrent' ELSE 'other' END) AS family,"
        " count(*) AS events,"
        " CAST(sum(e.heap_reclaimed_bytes) AS BIGINT) AS heap_reclaimed_sum"
        " FROM gc_events e LEFT JOIN family_dim f USING (gc_type)"
        " GROUP BY 1"
    )
    # routed-row equality THROUGH the per-sink catalog tables: the
    # fan-out read-back must equal the direct relational rollup
    out["gc_catalog_fanout"] = out["gc_events_per_collector"]

    out["gc_appstopped"] = g() + (
        "SELECT count(*) AS events,"
        " CAST(sum(" + ticks.format("stopped_seconds") + ") AS BIGINT) AS stopped_ticks_sum,"
        " CAST(sum(" + ticks.format("seconds_to_stop") + ") AS BIGINT) AS to_stop_ticks_sum"
        " FROM gc_events WHERE gc_class = 'app_stopped'"
    )

    out["gc_region_deltas"] = h() + (
        "SELECT url, block_idx, region_pos, region_name, used_before,"
        " used_after, capacity_before, capacity_after FROM region_deltas"
    )

    out["gc_region_kind_rollup"] = h(kind) + (
        "SELECT coalesce(k.kind, 'other') AS kind, count(*) AS regions,"
        " CAST(sum(" + oracle._b("r.used_before") + ") AS BIGINT) AS used_before_bytes_sum"
        " FROM region_deltas r LEFT JOIN kind_dim k USING (region_name)"
        " GROUP BY 1"
    )

    out["gc_heap_mode_counts"] = h() + oracle._expand(
        "SELECT 'detailed' AS gc_class, count(*) AS events FROM"
        " (SELECT DISTINCT url, event_seq FROM region_lines)"
        " UNION ALL "
        "SELECT 'app_stopped' AS gc_class, count(*) AS events FROM hdepth2"
        " WHERE depth = 0 AND regexp_matches(line,"
        " '^(@TS@: )?@AGE@: " + oracle.APPSTOP_BODY + "')"
    )
    out["gc_heap_mode_counts_window"] = out["gc_heap_mode_counts"]

    out["dedup_exact"] = ot.dedup_exact_sql()
    out["dedup_minhash_pairs"] = ot.dedup_minhash_sql()
    out["dedup_kcore"] = ot.dedup_kcore_sql()
    out["dedup_coreness"] = ot.dedup_coreness_sql()
    out["dedup_cross_source"] = ot.cross_source_sql()
    out["dedup_verified_pairs"] = ot.minhash_verified_sql()
    out["dedup_clusters"] = ot.dedup_clusters_sql()
    out["corpus_split"] = ot.hash_split_sql()
    out["corpus_sample"] = ot.stratified_sample_sql(
        SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
    )
    out["corpus_filter"] = ot.corpus_filter_sql()
    out["corpus_quota"] = ot.domain_quota_sql(max_per_group=QUOTA_MAX)
    out["corpus_leakage_split"] = ot.leakage_split_sql()
    out["corpus_contamination"] = ot.split_contamination_sql()
    out["corpus_weighted_sample"] = ot.weighted_sample_sql()
    out["corpus_shards"] = ot.shard_by_tokens_sql(n_groups=SHARD_GROUPS)
    out["gc_stream_dedup"] = ot.stream_dedup_sql()
    out["text_repetition"] = ot.repetition_stats_sql()
    out["text_scrub"] = ot.scrub_pii_sql()
    out["text_boilerplate"] = ot.strip_boilerplate_sql()
    out["dedup_simhash"] = ot.dedup_simhash_sql()
    out["dedup_jaccard"] = ot.dedup_jaccard_sql()
    out["dedup_prefix_jaccard"] = ot.prefix_jaccard_sql()
    out["dedup_recall"] = ot.lsh_recall_sql()
    out["dedup_containment"] = ot.dedup_containment_sql()
    out["text_quality"] = ot.text_quality_sql()
    out["text_readability"] = ot.readability_sql()
    out["text_cooccur"] = ot.cooccur_sql()
    out["text_classifier"] = ot.classifier_score_sql()
    out["corpus_domain_mix"] = ot.domain_mix_sql()
    out["dedup_survivors"] = ot.dedup_survivors_sql()
    out["text_oov"] = ot.oov_rate_sql()
    out["text_bpe_merges"] = ot.bpe_merges_sql()
    out["corpus_pack"] = ot.pack_sequences_sql()
    out["dedup_incremental"] = ot.incremental_dedup_sql()
    out["dedup_stream_incremental"] = ot.stream_incremental_dedup_sql()
    out["corpus_drift"] = ot.word_drift_sql()
    out["lang_id"] = ot.lang_id_sql()
    out["token_counts"] = ot.token_counts_sql()
    out["corpus_effective_tokens"] = ot.effective_tokens_sql()
    out["doc_fingerprint"] = ot.doc_fingerprint_sql()
    out["ann_cosine_topk"] = ot.ann_cosine_sql()
    out["ann_lsh_topk"] = ot.ann_lsh_sql()
    out["ann_ivf_topk"] = ot.ann_ivf_sql()
    out["ann_ivf_trained_topk"] = ot.ann_ivf_trained_sql()
    out["ann_quantized_topk"] = ot.ann_quantized_sql()
    out["ann_quant_error"] = ot.quant_error_sql()
    out["web_url_facets"] = ot.url_facets_sql()
    out["web_crawl_budget"] = ot.crawl_budget_sql()
    out["gc_key_skew"] = oracle.skew_stats_sql()
    out["agg_hll_distinct"] = oracle.hll_distinct_sql(p=4)
    out["agg_hll_rollup"] = oracle.hll_rollup_sql(p=4)
    # the stream's register-max state makes its sketch bit-identical
    # to the batch sketch — same oracle checks both paths
    out["rel_stream_hll"] = oracle.hll_distinct_sql(p=4)
    # models Spark's lagged late-events watermark + final flush exactly
    out["rel_stream_late"] = oracle.stream_late_sql()
    out["gc_anomaly_hours"] = oracle.mad_anomalies_sql(k=3.0)
    out["agg_cms_freq"] = oracle.cms_freq_sql()
    out["rel_journeys"] = oracle.journey_paths_sql()
    out["rel_trending"] = oracle.decayed_counts_sql()
    out["gc_grok_access"] = oracle.grok_access_sql()
    out["emb_neardup"] = ot.emb_neardup_sql(threshold=0.4)
    out["emb_knn_graph"] = ot.knn_graph_sql(k=3)
    out["emb_clusters"] = ot.emb_clusters_sql(threshold=0.35)
    # lined view re-derived independently: RE2 \1 backref vs Spark $1
    out["text_span_dedup"] = ot.span_dedup_sql(k=5)
    out["text_ccnet_buckets"] = ot.surprisal_buckets_sql()
    out["text_lm_score"] = ot.bigram_lm_sql()
    out["corpus_dsir"] = ot.dsir_weights_sql()

    out["text_line_dedup"] = ot.line_dedup_sql(
        lined=(
            r"SELECT doc_id, regexp_replace(text,"
            r" '((\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS text"
            r" FROM documents"
        )
    )
    out["text_normalize"] = ot.normalize_text_sql(
        source=(
            f"SELECT doc_id, text || {ot.sql_str_expr(MESSY_SUFFIX)}"
            " AS text FROM documents"
        )
    )
    out["rel_lateral_topk"] = LATERAL_TOPK_SQL
    out["web_blocklist"] = ot.url_blocklist_sql(BLOCK_RULES)
    out["web_canonical_urls"] = ot.canonical_urls_sql()
    out["dedup_simhash_pairs"] = ot.simhash_pairs_sql()
    out["ann_recall"] = ot.ann_recall_sql(RECALL_QUERY_IDS, k=RECALL_K)
    out["emb_label_stats"] = ot.label_centroids_sql()
    out["emb_rproj"] = ot.srp_project_sql(in_dim=64, out_dim=16)
    out["emb_matryoshka"] = ot.matryoshka_sql()
    out["ann_pq_topk"] = ot.ann_pq_sql(k=10, iters=2)
    out["ann_ivfpq_topk"] = ot.ann_ivfpq_sql(k=10, iters=2, n_probe=2)
    # the SAME SQL GC parser, pointed at the raw files via read_text —
    # verifies the streaming source's transport AND the parse together
    out["gc_stream_source_counts"] = oracle.gcline_prefix(
        pages_cte=oracle.file_pages_cte(_fixture_glob("*"))
    ) + (
        "SELECT gc_class, gc_type, count(*) AS events,"
        " count(DISTINCT url) AS urls FROM gc_events GROUP BY 1, 2"
    )
    # independent file reader: DuckDB read_text + its own line split
    # (trailing-newline-aware) re-derives the DataSource's output
    glob = _fixture_glob().replace("'", "''")
    out["gc_source_lines"] = f"""WITH t AS (
  SELECT filename, content FROM read_text('{glob}')
),
ls AS (
  SELECT filename,
    list_slice(string_split(content, chr(10)), 1,
      len(string_split(content, chr(10))) -
      CASE WHEN ends_with(content, chr(10)) THEN 1 ELSE 0 END) AS lines
  FROM t
)
SELECT regexp_extract(filename, '([^/]+)$', 1) AS log_name,
  CAST(len(lines) AS BIGINT) AS n_lines,
  md5(array_to_string(lines, chr(10))) AS lines_hash
FROM ls"""
    # snapshot-diff oracle: the commit rules stated directly — deleted
    # users are only_left unless re-inserted updated (changed); clones
    # with shifted ids are only_right
    out["snap_diff"] = (
        "SELECT event_id, 'only_left' AS diff_kind FROM events"
        " WHERE user_id IN (0, 1, 2)"
        "  AND NOT (user_id = 0 AND event_id % 7 = 0)"
        " UNION ALL"
        " SELECT event_id, 'changed' FROM events"
        " WHERE user_id = 0 AND event_id % 7 = 0"
        " UNION ALL"
        " SELECT event_id + 5000000000, 'only_right' FROM events"
        " WHERE event_id % 11 = 0"
    )
    # reconciliation oracle: direct FULL OUTER classification of the
    # identically-derived replica (IS DISTINCT FROM = Spark eqNullSafe)
    out["rel_table_diff"] = """WITH replica AS (
  SELECT event_id, ts, user_id, event_type,
    CASE WHEN event_id % 101 = 0 THEN value + 1.5 ELSE value END AS value,
    props
  FROM events WHERE event_id % 97 <> 0
  UNION ALL
  SELECT event_id + 2000000000, ts, user_id, event_type, value, props
  FROM events WHERE event_id % 103 = 0
)
SELECT coalesce(a.event_id, b.event_id) AS event_id,
  CASE WHEN b.event_id IS NULL THEN 'only_left'
       WHEN a.event_id IS NULL THEN 'only_right'
       ELSE 'changed' END AS diff_kind
FROM events a FULL OUTER JOIN replica b ON a.event_id = b.event_id
WHERE a.event_id IS NULL OR b.event_id IS NULL
   OR a.ts IS DISTINCT FROM b.ts
   OR a.user_id IS DISTINCT FROM b.user_id
   OR a.event_type IS DISTINCT FROM b.event_type
   OR a.value IS DISTINCT FROM b.value
   OR a.props IS DISTINCT FROM b.props"""
    out["media_meta"] = ot.media_meta_sql()
    out["media_neighbors"] = ot.media_neighbor_sql()
    out["media_resize"] = ot.media_resize_sql()
    out["media_frames"] = ot.media_frames_sql()
    out["media_phash"] = ot.media_phash_sql()
    out["media_phash_pairs"] = ot.media_phash_pairs_sql(max_hamming=12)
    out["media_decode"] = ot.media_decode_sql()
    out["media_meta_mixed"] = ot.media_meta_mixed_sql()
    out["media_resize_real"] = ot.media_resize_real_sql()
    out["media_phash_real"] = ot.media_phash_real_sql()
    out["media_audio_features"] = ot.media_audio_features_sql()
    out["media_image_stats"] = ot.media_image_stats_sql()
    out["corpus_manifest"] = ot.corpus_manifest_sql(
        n_groups=SHARD_GROUPS
    )

    out["rel_agg_lineitem"] = (
        "SELECT l_returnflag, l_linestatus,"
        " round(sum(l_quantity), 2) AS sum_qty,"
        " CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
        "   AS BIGINT) AS sum_price_cents,"
        " count(*) AS count_order"
        " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
        " GROUP BY 1, 2"
    )

    out["rel_topk_orders"] = (
        "SELECT o_custkey, CAST(rnk AS INT) AS rnk, o_orderkey FROM ("
        " SELECT o_custkey, o_orderkey, row_number() OVER ("
        "  PARTITION BY o_custkey"
        "  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk"
        " FROM orders) WHERE rnk <= 3"
    )

    out["rel_join_agg"] = (
        "SELECT c.c_mktsegment, count(*) AS orders,"
        " CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))"
        "   AS BIGINT) AS revenue_cents"
        " FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        " GROUP BY 1"
    )

    out["rel_shuffle_join"] = (
        "SELECT o.o_orderpriority, count(*) AS items,"
        " CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)"
        "   * 100) AS BIGINT)) AS BIGINT) AS revenue_cents"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " WHERE l.l_shipdate > o.o_orderdate"
        " GROUP BY 1"
    )

    out["rel_bucketed_join"] = (
        "SELECT l.l_linestatus, count(*) AS items,"
        " CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)"
        "   * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,"
        " count(DISTINCT o.o_custkey) AS customers"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " GROUP BY 1"
    )

    out["rel_bloom_join"] = (
        "SELECT l.l_returnflag, count(*) AS items,"
        " CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)"
        "   * 100) AS BIGINT)) AS BIGINT) AS revenue_cents"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " WHERE o.o_orderpriority = '1-URGENT'"
        " GROUP BY 1"
    )

    out["rel_asof_join"] = (
        "SELECT l.event_id AS click_id, l.user_id, l.ts AS click_ts,"
        " r.event_id AS purchase_id, r.value AS purchase_value,"
        " epoch_us(l.ts) - epoch_us(r.ts) AS us_since"
        " FROM (SELECT * FROM events WHERE event_type = 'click') l"
        " ASOF LEFT JOIN"
        " (SELECT * FROM events WHERE event_type = 'purchase') r"
        " ON l.user_id = r.user_id AND l.ts >= r.ts"
    )

    out["rel_range_join"] = (
        "WITH inc AS (SELECT event_id AS incident_id, ts AS istart,"
        " ts + INTERVAL 10 MINUTE AS iend FROM events"
        " WHERE event_type = 'error')"
        " SELECT i.incident_id, i.istart, count(*) AS n_events,"
        " round(sum(e.value), 6) AS sum_value,"
        " count(DISTINCT e.user_id) AS n_users"
        " FROM inc i JOIN events e"
        " ON e.ts >= i.istart AND e.ts < i.iend"
        " GROUP BY 1, 2"
    )

    out["text_decontam"] = ot.decontam_sql()
    out["text_decontam_bloom"] = ot.decontam_sql()
    out["text_c4_lines"] = ot.c4_line_filter_sql()
    out["text_encoding"] = ot.encoding_stats_sql()
    out["text_lang_agreement"] = ot.lang_agreement_sql()
    out["corpus_ngram_diversity"] = ot.ngram_diversity_sql()
    out["corpus_epoch_shuffle"] = ot.epoch_shuffle_sql()
    out["text_ngrams"] = ot.corpus_ngrams_sql(k=2, top=50)
    out["text_heavy_hitters"] = ot.heavy_hitters_sql(k=HH_K)

    out["rel_window_suite"] = (
        "SELECT o_orderkey, o_orderpriority,"
        " ntile(4) OVER w AS quartile,"
        " round(percent_rank() OVER w, 6) AS pct_rank,"
        " round(cume_dist() OVER w, 6) AS cume"
        " FROM orders"
        " WINDOW w AS (PARTITION BY o_orderpriority"
        " ORDER BY o_totalprice DESC, o_orderkey ASC)"
    )

    out["rel_transitions"] = (
        "WITH pairs AS ("
        " SELECT lag(event_type) OVER (PARTITION BY user_id"
        "   ORDER BY ts, event_id) AS prev_type, event_type"
        " FROM events),"
        " by_pair AS ("
        " SELECT prev_type, event_type, count(*) AS n FROM pairs"
        " WHERE prev_type IS NOT NULL GROUP BY 1, 2)"
        " SELECT prev_type, event_type, n,"
        " round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS prob"
        " FROM by_pair"
    )

    out["rel_retention"] = (
        "WITH c AS ("
        " SELECT user_id,"
        "  min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)"
        "   AS cohort_day,"
        "  CAST(ts AS DATE) AS day"
        " FROM events)"
        " SELECT cohort_day,"
        " date_diff('day', cohort_day, day) // 7 AS offset_week,"
        " count(DISTINCT user_id) AS active_users"
        " FROM c GROUP BY 1, 2"
    )

    out["rel_resample"] = oracle.resample_ffill_sql(user_mod=10)
    out["rel_dq_audit"] = oracle.dq_audit_sql()
    out["rel_funnel"] = (
        "WITH s AS ("
        " SELECT user_id, event_type, ts,"
        "  min(CASE WHEN event_type = 'view' THEN ts END)"
        "   OVER (PARTITION BY user_id) AS t1"
        " FROM events),"
        " s2 AS ("
        " SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1"
        "   THEN ts END) OVER (PARTITION BY user_id) AS t2 FROM s),"
        " s3 AS ("
        " SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2"
        "   THEN ts END) OVER (PARTITION BY user_id) AS t3 FROM s2),"
        " pu AS ("
        " SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3"
        " FROM s3 GROUP BY 1)"
        " SELECT count(t1) AS n_view, count(t2) AS n_click_after,"
        " count(t3) AS n_purchase_after,"
        " round(count(t2) / count(t1), 6) AS view_to_click,"
        " round(count(t3) / count(t2), 6) AS click_to_purchase"
        " FROM pu"
    )

    out["rel_variant_extract"] = (
        "SELECT event_type,"
        " CASE WHEN json_type(json_extract(props, '$.k'))"
        "   IN ('UBIGINT', 'BIGINT', 'INTEGER')"
        "  THEN 'OBJECT<k: BIGINT>'"
        "  ELSE 'OBJECT<k: ' || json_type(json_extract(props, '$.k'))"
        "   || '>' END AS variant_schema,"
        " count(*) AS n,"
        " round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6)"
        "  AS avg_k,"
        " round(quantile_cont(CAST(json_extract(props, '$.k')"
        "  AS BIGINT), 0.9), 6) AS p90_k"
        " FROM events GROUP BY 1, 2"
    )

    out["rel_recursive_cte"] = (
        "WITH RECURSIVE walk(user_id, node, depth) AS ("
        " SELECT user_id, user_id, 0"
        " FROM (SELECT DISTINCT user_id FROM events WHERE user_id >= 1)"
        " UNION ALL"
        " SELECT user_id, node // 2, depth + 1 FROM walk WHERE node > 1"
        "),"
        " per_user AS ("
        " SELECT user_id, max(depth) AS depth FROM walk GROUP BY 1),"
        " ev_counts AS ("
        " SELECT user_id, count(*) AS n_ev FROM events"
        " WHERE user_id >= 1 GROUP BY 1)"
        " SELECT p.depth, count(*) AS n_users,"
        " CAST(sum(e.n_ev) AS BIGINT) AS n_events"
        " FROM per_user p JOIN ev_counts e ON p.user_id = e.user_id"
        " GROUP BY 1"
    )

    out["rel_session_window"] = (
        "WITH x AS ("
        " SELECT user_id, ts,"
        "  CASE WHEN lag(ts) OVER w IS NULL"
        "   OR date_diff('microsecond', lag(ts) OVER w, ts)"
        "    >= 21600000000 THEN 1 ELSE 0 END AS new_s"
        " FROM events"
        " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
        " s AS ("
        " SELECT user_id, ts,"
        "  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts"
        "   ROWS UNBOUNDED PRECEDING) AS sid"
        " FROM x)"
        " SELECT user_id, min(ts) AS session_start,"
        " count(*) AS n_events,"
        " date_diff('microsecond', min(ts), max(ts)) AS duration_us"
        " FROM s GROUP BY user_id, sid"
    )
    # the streaming session-state merge must equal the batch result
    out["rel_stream_sessions"] = out["rel_session_window"]

    out["emb_dq_checks"] = ot.embedding_checks_sql(dim=64)
    out["rel_dq_checks"] = (
        "SELECT 'orders_pk_unique' AS rule,"
        " round((count(*) - count(DISTINCT o_orderkey))"
        "   / count(*), 6) AS metric,"
        " round((count(*) - count(DISTINCT o_orderkey))"
        "   / count(*), 6) <= 0 AS passed FROM orders"
        " UNION ALL"
        " SELECT 'orders_date_not_null',"
        " round((count(*) - count(o_orderdate)) / count(*), 6),"
        " round((count(*) - count(o_orderdate)) / count(*), 6) <= 0"
        " FROM orders"
        " UNION ALL"
        " SELECT 'orders_price_range',"
        " round(coalesce(sum(CASE WHEN o_totalprice < 0"
        "   OR o_totalprice > 1e9 THEN 1 ELSE 0 END), 0)"
        "   / count(*), 6),"
        " round(coalesce(sum(CASE WHEN o_totalprice < 0"
        "   OR o_totalprice > 1e9 THEN 1 ELSE 0 END), 0)"
        "   / count(*), 6) <= 0 FROM orders"
        " UNION ALL"
        " SELECT 'events_type_domain',"
        " round(sum(CASE WHEN event_type IN"
        "   ('view','click','purchase','signup','error')"
        "   THEN 0 ELSE 1 END) / count(*), 6),"
        " round(sum(CASE WHEN event_type IN"
        "   ('view','click','purchase','signup','error')"
        "   THEN 0 ELSE 1 END) / count(*), 6) <= 0 FROM events"
        " UNION ALL"
        " SELECT 'lineitem_fk',"
        " round(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)"
        "   / count(*), 6),"
        " round(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)"
        "   / count(*), 6) <= 0"
        " FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey"
        "   FROM orders) o ON l.l_orderkey = o.o_orderkey"
    )

    out["rel_percentiles"] = (
        "SELECT o_orderpriority, count(*) AS n,"
        " round(quantile_cont(o_totalprice, 0.5), 6) AS p50,"
        " round(quantile_cont(o_totalprice, 0.95), 6) AS p95"
        " FROM orders GROUP BY 1"
    )

    # value-equal by construction: salting must not change the result
    out["rel_shuffle_join_salted"] = (
        "SELECT o.o_orderpriority, count(*) AS items,"
        " CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)"
        "   * 100) AS BIGINT)) AS BIGINT) AS revenue_cents"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " WHERE l.l_shipdate > o.o_orderdate"
        " GROUP BY 1"
    )

    out["rel_unpivot"] = (
        "SELECT l_returnflag, measure, count(*) AS n,"
        " CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT)"
        "   AS sum_cents"
        " FROM (SELECT l_returnflag, measure, val FROM lineitem"
        " UNPIVOT (val FOR measure IN"
        " (l_quantity, l_extendedprice, l_discount, l_tax)))"
        " GROUP BY 1, 2"
    )

    out["corpus_compact"] = (
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    )

    out["rel_scd2"] = (
        "WITH ordered AS ("
        " SELECT user_id, event_type, ts, event_id,"
        "  lag(event_type) OVER (PARTITION BY user_id"
        "   ORDER BY ts, event_id) AS prev FROM events),"
        " vers AS (SELECT user_id, event_type, ts, event_id"
        "  FROM ordered WHERE prev IS NULL OR event_type <> prev)"
        " SELECT user_id, event_type, ts AS valid_from,"
        "  lead(ts) OVER (PARTITION BY user_id"
        "   ORDER BY ts, event_id) AS valid_to,"
        "  lead(ts) OVER (PARTITION BY user_id"
        "   ORDER BY ts, event_id) IS NULL AS is_current"
        " FROM vers"
    )
    out["rel_cdc_latest"] = (
        "SELECT event_id, ts, user_id, event_type, value, props"
        " FROM (SELECT *, row_number() OVER (PARTITION BY user_id"
        " ORDER BY ts DESC, event_id DESC) AS rn FROM events)"
        " WHERE rn = 1"
    )

    out["rel_cdc_upsert"] = (
        "WITH base AS ("
        " SELECT event_id, ts, user_id, event_type, value, props"
        " FROM (SELECT *, row_number() OVER (PARTITION BY user_id"
        "   ORDER BY ts DESC, event_id DESC) AS rn FROM events"
        "   WHERE ts < TIMESTAMP '2024-01-08') WHERE rn = 1),"
        " merged AS ("
        " SELECT event_id, ts, user_id, event_type, value, props,"
        "   0 AS prec, false AS del FROM base"
        " UNION ALL"
        " SELECT event_id, ts, user_id, event_type, value, props,"
        "   1, event_type = 'error'"
        " FROM events WHERE ts >= TIMESTAMP '2024-01-08')"
        " SELECT event_id, ts, user_id, event_type, value, props"
        " FROM (SELECT *, row_number() OVER (PARTITION BY user_id"
        "   ORDER BY prec DESC, ts DESC, event_id DESC) AS rn"
        "   FROM merged)"
        " WHERE rn = 1 AND NOT del"
    )

    # the streaming CDC apply must compose to the one-shot MERGE
    out["rel_stream_upsert"] = out["rel_cdc_upsert"]

    out["rel_sliding_window"] = (
        "WITH t AS (SELECT epoch_us(ts) AS us, event_type, value"
        " FROM events),"
        " assigned AS ("
        "  SELECT (us // 300000000) * 300 AS window_start,"
        "   event_type, value FROM t"
        "  UNION ALL"
        "  SELECT (us // 300000000) * 300 - 300 AS window_start,"
        "   event_type, value FROM t)"
        " SELECT CAST(window_start AS BIGINT) AS window_start,"
        " event_type, count(*) AS n_events,"
        " round(sum(value), 6) AS sum_value"
        " FROM assigned GROUP BY 1, 2"
    )

    # stream results must equal batch results: same oracle
    out["rel_stream_sliding"] = out["rel_sliding_window"]

    out["rel_interval_join"] = (
        "SELECT v.event_id AS view_id, p.event_id AS purchase_id,"
        " v.user_id,"
        " date_diff('microsecond', v.ts, p.ts) AS lag_micros,"
        " round(p.value, 6) AS purchase_value"
        " FROM events v JOIN events p"
        " ON v.user_id = p.user_id"
        " AND v.event_type = 'view' AND p.event_type = 'purchase'"
        " AND p.ts >= v.ts"
        " AND p.ts <= v.ts + INTERVAL 30 MINUTE"
    )
    out["rel_stream_join"] = out["rel_interval_join"]

    out["rel_multiway_join"] = (
        "SELECT n.n_name AS nation, count(*) AS items,"
        " CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)"
        "   * 100) AS BIGINT)) AS BIGINT) AS revenue_cents"
        " FROM customer c"
        " JOIN orders o ON o.o_custkey = c.c_custkey"
        " JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
        " JOIN supplier s ON s.s_suppkey = l.l_suppkey"
        "   AND s.s_nationkey = c.c_nationkey"
        " JOIN nation n ON n.n_nationkey = c.c_nationkey"
        " JOIN region r ON r.r_regionkey = n.n_regionkey"
        " WHERE r.r_name = 'ASIA'"
        " GROUP BY 1"
    )

    out["rel_json_extract"] = (
        "SELECT event_type, count(*) AS n,"
        " CAST(sum(CAST(json_extract_string(props, '$.k')"
        "   AS BIGINT)) AS BIGINT) AS sum_k,"
        " max(CAST(json_extract_string(props, '$.k') AS BIGINT))"
        "   AS max_k,"
        " count(DISTINCT CAST(json_extract_string(props, '$.k')"
        "   AS BIGINT)) AS distinct_k"
        " FROM events GROUP BY 1"
    )

    out["rel_global_topn"] = (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        " ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"
    )

    out["text_chunks"] = (
        "WITH words AS (SELECT doc_id,"
        "  string_split_regex(trim(text), '\\s+') AS w FROM documents),"
        " meta AS (SELECT doc_id, w,"
        "  (greatest(len(w) - 8, 1) + 23) // 24 AS n_chunks FROM words),"
        " idx AS (SELECT doc_id, w,"
        "  unnest(generate_series(0, n_chunks - 1)) AS chunk_idx"
        "  FROM meta)"
        " SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,"
        " array_to_string(list_slice(w, chunk_idx * 24 + 1,"
        "   chunk_idx * 24 + 32), ' ') AS chunk_text,"
        " CAST(len(list_slice(w, chunk_idx * 24 + 1,"
        "   chunk_idx * 24 + 32)) AS INT) AS n_chunk_words"
        " FROM idx"
    )

    out["gc_pause_histogram"] = g() + (
        "SELECT CAST(least(greatest("
        "   floor((pause_seconds - 0.0) / 0.2), 0), 19) AS INT) AS bin,"
        " count(*) AS n,"
        " round(min(pause_seconds), 6) AS bin_min,"
        " round(max(pause_seconds), 6) AS bin_max"
        " FROM gc_events WHERE pause_seconds IS NOT NULL GROUP BY 1"
    )

    out["text_tfidf"] = (
        "WITH words AS (SELECT doc_id,"
        "  unnest(string_split_regex(trim(text), '\\s+')) AS word"
        "  FROM documents),"
        " tf AS (SELECT doc_id, word, count(*) AS tf FROM words"
        "  WHERE word <> '' GROUP BY 1, 2),"
        " dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),"
        " n AS (SELECT count(*) AS n FROM documents),"
        " scored AS (SELECT t.doc_id, t.word,"
        "  round(t.tf * (n.n + 1.0) / (d.df + 1.0), 6) AS score"
        "  FROM tf t JOIN dfreq d USING (word) CROSS JOIN n),"
        " ranked AS (SELECT *, row_number() OVER ("
        "  PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rnk"
        "  FROM scored)"
        " SELECT doc_id, CAST(rnk AS INT) AS rnk, word, score"
        " FROM ranked WHERE rnk <= 3"
    )

    out["rel_semi_join"] = (
        "SELECT c_custkey, c_mktsegment FROM customer c"
        " WHERE EXISTS (SELECT 1 FROM orders o"
        "  WHERE o.o_custkey = c.c_custkey"
        "  AND o.o_orderpriority = '1-URGENT')"
    )

    out["rel_anti_join"] = (
        "SELECT c_custkey, c_nationkey FROM customer c"
        " WHERE NOT EXISTS (SELECT 1 FROM orders o"
        "  WHERE o.o_custkey = c.c_custkey"
        "  AND o.o_orderpriority = '1-URGENT')"
    )

    out["rel_rollup"] = (
        "SELECT o_orderpriority, o_orderstatus, count(*) AS orders,"
        " CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
        "   AS BIGINT) AS revenue_cents"
        " FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"
    )

    out["rel_cube"] = (
        "SELECT l_returnflag, l_linestatus, count(*) AS items,"
        " CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,"
        " CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)"
        "   AS grouping_id"
        " FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    )

    out["rel_except"] = (
        "SELECT o_custkey FROM orders"
        " WHERE year(o_orderdate) = 1995"
        " EXCEPT"
        " SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996"
    )
    out["rel_intersect"] = (
        "SELECT o_custkey FROM orders"
        " WHERE year(o_orderdate) = 1995"
        " INTERSECT"
        " SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996"
    )

    pivot_cols = ", ".join(
        f'count(*) FILTER (WHERE sink = \'{s}\') AS "{s}"'
        for s in (
            "parallel_minor", "full", "cms_concurrent",
            "promotion_failure", "app_stopped",
        )
    )
    out["gc_pivot_family"] = g(fam) + (
        "SELECT CAST(epoch(date_trunc('hour', e.warc_ts)) AS BIGINT)"
        " AS hour_epoch, " + pivot_cols +
        " FROM (SELECT *, coalesce(f.family, CASE WHEN gc_type"
        " LIKE 'CMS%' THEN 'cms_concurrent' ELSE 'other' END) AS sink"
        " FROM gc_events LEFT JOIN family_dim f USING (gc_type)) e"
        " GROUP BY 1"
    )

    out["gc_urls_per_sink"] = g(fam) + (
        "SELECT coalesce(f.family, CASE WHEN e.gc_type LIKE 'CMS%'"
        " THEN 'cms_concurrent' ELSE 'other' END) AS sink,"
        " count(DISTINCT e.url) AS urls, count(*) AS events"
        " FROM gc_events e LEFT JOIN family_dim f USING (gc_type)"
        " GROUP BY 1"
    )

    def _prof(col, minmax, sumlen="CAST(NULL AS BIGINT)"):
        return (
            f"SELECT '{col}' AS col_name, count(*) AS n_rows,"
            f" count(*) - count({col}) AS n_nulls,"
            f" count(DISTINCT {col}) AS n_distinct,"
            f" {minmax.format(f'min({col})')} AS min_num,"
            f" {minmax.format(f'max({col})')} AS max_num,"
            f" {sumlen} AS sum_len FROM events"
        )

    dbl = "CAST({} AS DOUBLE)"
    out["rel_table_stats"] = " UNION ALL ".join(
        [
            _prof("event_id", dbl),
            _prof("ts", "CAST(epoch_us({}) AS DOUBLE)"),
            _prof("user_id", dbl),
            _prof(
                "event_type",
                "CAST(NULL AS DOUBLE)",
                "CAST(sum(length(event_type)) AS BIGINT)",
            ),
            _prof("value", "round({}, 6)"),
            _prof(
                "props",
                "CAST(NULL AS DOUBLE)",
                "CAST(sum(length(props)) AS BIGINT)",
            ),
        ]
    )

    # snapshot-catalog queries: snapshot k of the 3-append fixture is
    # exactly `event_id % 3 < k`, so history states are plain WHEREs
    out["rel_nullsafe_join"] = (
        "WITH keyed AS (SELECT event_type,"
        " CASE WHEN event_id % 10 <> 0 THEN user_id % 50 END AS k"
        " FROM events),"
        " c AS (SELECT k, count(*) AS n_clicks FROM keyed"
        "  WHERE event_type = 'click' GROUP BY 1),"
        " v AS (SELECT k, count(*) AS n_views FROM keyed"
        "  WHERE event_type = 'view' GROUP BY 1)"
        " SELECT c.k AS k, c.n_clicks, v.n_views"
        " FROM c JOIN v ON c.k IS NOT DISTINCT FROM v.k"
    )

    # whole-table aggregate — equality with base-state + CDC-delta-state
    # merge is the incremental-MV-maintenance proof
    out["rel_mv_refresh"] = (
        "SELECT event_type, count(*) AS n,"
        " CAST(sum(" + ticks.format("value") + ") AS BIGINT)"
        " AS value_ticks_sum,"
        " min(" + ticks.format("value") + ") AS min_value_ticks,"
        " max(" + ticks.format("value") + ") AS max_value_ticks"
        " FROM events GROUP BY 1"
    )

    out["rel_dpp_scan"] = (
        "SELECT CAST(ts AS DATE) AS day, count(*) AS events,"
        " CAST(sum(" + ticks.format("value") + ") AS BIGINT)"
        " AS value_ticks_sum,"
        " count(DISTINCT user_id) AS users"
        " FROM events WHERE EXTRACT(day FROM ts) % 3 = 0 GROUP BY 1"
    )
    out["snap_time_travel"] = (
        "SELECT event_type, count(*) AS events,"
        " CAST(sum(" + ticks.format("value") + ") AS BIGINT)"
        " AS value_ticks_sum,"
        " count(DISTINCT user_id) AS users"
        " FROM events WHERE event_id % 3 < 2 GROUP BY 1"
    )
    out["snap_incremental"] = (
        "SELECT event_type, count(*) AS events,"
        " CAST(sum(" + ticks.format("value") + ") AS BIGINT)"
        " AS value_ticks_sum"
        " FROM events WHERE event_id % 3 >= 1 GROUP BY 1"
    )
    out["snap_prune_scan"] = (
        "SELECT event_id, ts, user_id, event_type FROM events"
        " WHERE event_id BETWEEN 260 AND 490"
    )
    out["rel_zorder_scan"] = (
        "SELECT event_id, ts, user_id, event_type FROM events"
        " WHERE user_id BETWEEN 0 AND 3"
    )
    out["web_pagerank"] = _pagerank_oracle_sql()
    out["web_hits"] = _hits_oracle_sql()
    out["web_triangles"] = ot.triangle_counts_sql()
    out["web_communities"] = _lpa_oracle_sql()
    out["web_degree_dist"] = ot.degree_dist_sql()
    out["web_trustrank"] = _trustrank_oracle_sql()
    out["snap_wap_publish"] = (
        "SELECT event_id, ts, user_id, event_type, props FROM events"
    )
    out["snap_eq_delete"] = (
        "SELECT event_id, ts, user_id, event_type FROM events"
        " WHERE user_id NOT IN (0, 1, 2)"
        " UNION ALL"
        " SELECT event_id, ts, user_id, event_type FROM events"
        " WHERE user_id IN (0, 1, 2) AND event_id % 7 = 0"
    )
    out["rel_grouping_sets"] = GROUPING_SETS_SQL
    out["rel_range_frame"] = (
        "SELECT event_id, user_id,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,"
        " count(*) OVER w AS rolling_n,"
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)"
        "  AS rolling_cents"
        " FROM events WINDOW w AS (PARTITION BY user_id"
        " ORDER BY CAST(floor(epoch(ts)) AS BIGINT)"
        " RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)"
    )
    out["rel_kmv_distinct"] = (
        "WITH d AS (SELECT DISTINCT event_type,"
        " CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))"
        " AS BIGINT) AS h FROM events),"
        " g AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY 1),"
        " t AS (SELECT event_type, h, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY h) AS rn FROM d),"
        " kth AS (SELECT event_type, max(h) AS hk, count(*) AS m"
        "  FROM t WHERE rn <= 64 GROUP BY 1)"
        " SELECT g.event_type, g.n_exact,"
        " CASE WHEN kth.m < 64 THEN CAST(kth.m AS DOUBLE)"
        "  ELSE round(63.0 * 4294967296.0 / kth.hk, 6) END"
        "  AS kmv_estimate"
        " FROM g JOIN kth USING (event_type)"
    )
    out["rel_kmv_intersect"] = (
        "WITH d AS (SELECT DISTINCT event_type AS g,"
        " CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))"
        " AS BIGINT) AS h FROM events),"
        " r AS (SELECT g, h, row_number() OVER ("
        "  PARTITION BY g ORDER BY h) AS rn,"
        "  count(*) OVER (PARTITION BY g) AS n FROM d),"
        " sk AS (SELECT g, h, n FROM r WHERE rn <= 64),"
        " th AS (SELECT g, CASE WHEN max(n) >= 64 THEN max(h)"
        "  ELSE 4294967296 END AS theta FROM sk GROUP BY 1),"
        " pairs AS (SELECT a.g AS ga, b.g AS gb,"
        "  least(a.theta, b.theta) AS theta"
        "  FROM th a, th b WHERE a.g < b.g),"
        " com AS (SELECT a.g AS ga, b.g AS gb, a.h"
        "  FROM sk a JOIN sk b ON a.h = b.h AND a.g < b.g),"
        " samp AS (SELECT c.ga, c.gb, count(*) AS n_common"
        "  FROM com c JOIN pairs p ON c.ga = p.ga AND c.gb = p.gb"
        "  WHERE c.h < p.theta GROUP BY 1, 2),"
        " ex AS (SELECT a.g AS ga, b.g AS gb, count(*) AS n_exact"
        "  FROM d a JOIN d b ON a.h = b.h AND a.g < b.g GROUP BY 1, 2)"
        " SELECT p.ga AS ga, p.gb AS gb,"
        " CAST(coalesce(s.n_common, 0) AS BIGINT) AS n_common,"
        " round(CAST(coalesce(s.n_common, 0) AS DOUBLE)"
        "  * 4294967296.0 / p.theta, 6) AS est_intersection,"
        " CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact"
        " FROM pairs p"
        " LEFT JOIN samp s ON p.ga = s.ga AND p.gb = s.gb"
        " LEFT JOIN ex e ON p.ga = e.ga AND p.gb = e.gb"
    )

    # single-level whole-table bottom-k sketch — equality with the
    # Spark side's merged 8-shard sketches is the mergeability proof
    out["rel_quantile_sketch"] = (
        "WITH h AS (SELECT event_type, value AS v,"
        " CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))"
        " AS BIGINT) AS h FROM events WHERE value IS NOT NULL),"
        " r AS (SELECT event_type, v, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY h, v) AS rn FROM h),"
        " a AS (SELECT event_type, count(*) AS n,"
        "  list(v ORDER BY v) AS vs FROM r WHERE rn <= 128 GROUP BY 1)"
        " SELECT event_type, CAST(n AS BIGINT) AS n_sample,"
        " vs[CAST(floor((n - 1) * 0.5) AS INT) + 1] AS p50,"
        " vs[CAST(floor((n - 1) * 0.9) AS INT) + 1] AS p90,"
        " vs[CAST(floor((n - 1) * 0.99) AS INT) + 1] AS p99"
        " FROM a"
    )
    # mergeability oracle: the WHOLE-table estimate — equality with the
    # Spark side's merged per-half sketches is the mergeability proof
    out["rel_kmv_merge"] = (
        "WITH d AS (SELECT DISTINCT event_type,"
        " CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))"
        " AS BIGINT) AS h FROM events),"
        " t AS (SELECT event_type, h, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY h) AS rn FROM d),"
        " kth AS (SELECT event_type, max(h) AS hk, count(*) AS m"
        "  FROM t WHERE rn <= 64 GROUP BY 1)"
        " SELECT event_type,"
        " CASE WHEN m < 64 THEN CAST(m AS DOUBLE)"
        "  ELSE round(63.0 * 4294967296.0 / hk, 6) END"
        "  AS kmv_estimate"
        " FROM kth"
    )
    out["rel_gapfill"] = (
        "WITH hourly AS (SELECT event_type,"
        " CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,"
        " count(*) AS n FROM events GROUP BY 1, 2),"
        " b AS (SELECT event_type, min(hour_epoch) AS mn,"
        " max(hour_epoch) AS mx FROM hourly GROUP BY 1),"
        " dense AS (SELECT event_type,"
        " unnest(generate_series(mn, mx, 3600)) AS hour_epoch FROM b)"
        " SELECT d.event_type, d.hour_epoch,"
        " CAST(coalesce(h.n, 0) AS BIGINT) AS n_filled,"
        " CAST(last_value(h.n IGNORE NULLS) OVER ("
        "  PARTITION BY d.event_type ORDER BY d.hour_epoch"
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "  AS BIGINT) AS locf"
        " FROM dense d LEFT JOIN hourly h"
        " USING (event_type, hour_epoch)"
    )
    out["rel_outer_join"] = (
        "SELECT coalesce(c.c_nationkey, -1) AS nationkey,"
        " count(*) AS rows,"
        " CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)"
        "  AS BIGINT) AS no_order,"
        " CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)"
        "  AS BIGINT) AS no_customer,"
        " CAST(sum(coalesce(CAST(round(o.o_totalprice * 100) AS BIGINT),"
        "  0)) AS BIGINT) AS cents_sum"
        " FROM customer c FULL OUTER JOIN orders o"
        " ON c.c_custkey = o.o_custkey GROUP BY 1"
    )
    out["rel_correlated_subq"] = CORRELATED_SQL
    out["text_postings"] = ot.postings_sql()
    out["text_bm25"] = ot.bm25_sql(BM25_TERMS)
    out["text_hybrid_rrf"] = ot.hybrid_rrf_sql(BM25_TERMS)
    out["rel_anomaly_hours"] = (
        "WITH hourly AS (SELECT event_type,"
        " CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,"
        " count(*) AS n FROM events GROUP BY 1, 2),"
        " st AS (SELECT event_type, count(*) AS h, sum(n) AS s1,"
        " sum(n * n) AS s2 FROM hourly GROUP BY 1)"
        " SELECT y.event_type, y.hour_epoch, y.n,"
        " round((y.n - CAST(s.s1 AS DOUBLE) / s.h)"
        " / sqrt(CAST(s.s2 AS DOUBLE) / s.h"
        "  - (CAST(s.s1 AS DOUBLE) / s.h) * (CAST(s.s1 AS DOUBLE) / s.h)),"
        " 6) AS zscore"
        " FROM hourly y JOIN st s USING (event_type)"
        " WHERE sqrt(CAST(s.s2 AS DOUBLE) / s.h"
        "  - (CAST(s.s1 AS DOUBLE) / s.h) * (CAST(s.s1 AS DOUBLE) / s.h)) > 0"
        " AND CAST(y.n AS DOUBLE) > CAST(s.s1 AS DOUBLE) / s.h"
        "  + 2.0 * sqrt(CAST(s.s2 AS DOUBLE) / s.h"
        "  - (CAST(s.s1 AS DOUBLE) / s.h) * (CAST(s.s1 AS DOUBLE) / s.h))"
    )
    out["dedup_fuzzy"] = (
        "WITH d AS (SELECT doc_id, lower(substr(text, 1, 16)) AS pfx,"
        " substr(text, 1, 96) AS head, length(text) AS len"
        " FROM documents),"
        " sz AS (SELECT pfx, count(*) AS n FROM d GROUP BY 1),"
        " dd AS (SELECT d.* FROM d JOIN sz USING (pfx) WHERE sz.n <= 50)"
        " SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        " levenshtein(a.head, b.head) AS edit_dist"
        " FROM dd a JOIN dd b USING (pfx)"
        " WHERE a.doc_id < b.doc_id AND abs(a.len - b.len) <= 64"
        " AND levenshtein(a.head, b.head) <= 24"
    )
    return out
