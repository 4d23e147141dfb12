"""Per-layer measurements for the traced run.

Every layer is measured from outside the program:

* spans recorded here around each call into a layer's public function;
* Spark's SQL metrics read from the executed plan after each action;
* actions that stop after one layer, so differences between them
  separate the layers (extract only, extract + identity ``mapInPandas``,
  full parse, then rates / enrich / aggregate over cached events);
* the parse UDF body run locally on the extract output's Arrow batches,
  with timers wrapped around the ``core`` functions it calls.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import pyspark.sql.functions as F

from gclog_parser_spark import core
from gclog_parser_spark.operators import parse as parse_op
from gclog_parser_spark.operators.aggregate import per_sink_hourly
from gclog_parser_spark.operators.enrich import enrich_collector_family
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.operators.route import fanout_commit_catalog, with_sink
from gclog_parser_spark.plans.ledger import run_checkpointed
from gclog_parser_spark.plans.pipeline import build_events

from perfbench import passes
from perfbench.planmetrics import (
    executed_plan,
    exchange_into,
    skew,
    stage_input_records,
)

_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
DIFF_REPEATS = 3


class Tracer:
    """In-memory spans: (name, start, end, parent); written out at the end."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        start = time.perf_counter() - self._t0
        self.spans.append({"name": name, "start": start, "end": None,
                           "parent": parent})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter() - self._t0


def traced_pass(spark, pages_dir: str, tracer: Tracer):
    """One read pass with spans around each layer call; returns
    ``(rows, result)``.  The caller reads ``result``'s plan metrics after
    timing the pass: the pass is complete once its rows are collected."""
    with tracer.span("pass"):
        with tracer.span("sources.pages.read_pages"):
            pages = passes.pages_frame(spark, pages_dir)
        with tracer.span("plans.pipeline.build_events"):
            events = build_events(pages)
        with tracer.span("aggregate.hourly"):
            result = passes.hourly(events)
        with tracer.span("action.collect"):
            rows = result.collect()
    return rows, result


def harvest_pass(result, tracer: Tracer) -> dict:
    """Layer metrics from a traced pass's executed plan (a few hundred
    py4j calls, so it runs outside the timed pass, in its own span)."""
    with tracer.span("planmetrics.harvest"):
        return pass_plan_metrics(executed_plan(result))


def pass_plan_metrics(plan) -> dict:
    """Layer metrics readable from one executed read pass."""
    out = {}
    scan = plan.find("Scan parquet")[0]
    out["scan.rows"] = scan.metric("numOutputRows")
    out["scan.file_bytes"] = scan.metric("filesSize")
    out["scan.time_s"] = scan.metric("scanTime")
    flt = scan.consumer()
    rows_out = flt.metric("numOutputRows") if flt else 0
    out["extract.rows_out"] = rows_out
    scanned = out["scan.rows"]
    out["extract.selectivity"] = rows_out / scanned if scanned else 0.0
    m = plan.find("MapInPandas")[0]
    out["arrow.bytes_to_python"] = m.metric("pythonDataSent")
    out["arrow.bytes_from_python"] = m.metric("pythonDataReceived")
    out["arrow.rows_from_python"] = m.metric("pythonNumRowsReceived")
    out["arrow.python_total_s"] = m.metric("pythonTotalTime")
    out["arrow.python_init_s"] = m.metric("pythonInitTime")
    ex = exchange_into(plan, "Window")
    out["rates.shuffle_bytes"] = ex.metric("shuffleBytesWritten") if ex else 0
    bx = plan.find("BroadcastExchange")
    out["enrich.broadcast_build_s"] = sum(
        b.metric("buildTime") + b.metric("collectTime")
        for b in bx
    )
    out["enrich.rows_out"] = sum(
        j.metric("numOutputRows")
        for j in plan.find("BroadcastHashJoin")
    )
    return out


def _wall(action, repeats: int = 1) -> float:
    """Median wall seconds of ``repeats`` runs of ``action()``."""
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        action()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _identity(batches):
    yield from batches


def isolation_metrics(spark, pages_dir: str, tracer: Tracer) -> dict:
    """Walls of actions that stop after each layer of the read pass."""
    out = {}
    pages = passes.pages_frame(spark, pages_dir)
    extracted = parse_op.extract_gc_text(pages)

    # the pass's layers are told apart by differences of these three
    # walls, so each is a median of DIFF_REPEATS runs
    with tracer.span("layer.extract"):
        out["extract.wall_s"] = _wall(
            lambda: extracted.agg(F.sum(F.length("gc_text"))).collect(),
            DIFF_REPEATS,
        )
    with tracer.span("layer.arrow_passthrough"):
        out["arrow.passthrough_wall_s"] = _wall(
            lambda: extracted.mapInPandas(_identity, extracted.schema)
            .groupBy().count().collect(),
            DIFF_REPEATS,
        )
    with tracer.span("layer.parse"):
        out["parse.wall_s"] = _wall(
            lambda: parse_op.parse_events(pages).groupBy().count().collect(),
            DIFF_REPEATS,
        )
    with tracer.span("layer.udf_body"):
        out.update(udf_body_metrics(extracted))

    events = parse_op.parse_events(pages).cache()
    routed = with_sink(with_rates(events)).cache()
    try:
        events.count()
        routed.count()
        with tracer.span("layer.rates"):
            out["rates.wall_s"] = _wall(
                lambda: with_rates(events).agg(
                    F.sum("heap_allocation_rate"), F.sum("promotion_rate")
                ).collect()
            )
        with tracer.span("layer.enrich"):
            out["enrich.wall_s"] = _wall(
                lambda: enrich_collector_family(events)
                .groupBy("family").count().collect()
            )
        with tracer.span("layer.aggregate"):
            agg = per_sink_hourly(routed)
            out["aggregate.wall_s"] = _wall(agg.collect)
        plan = executed_plan(agg)
        ex = exchange_into(plan, _AGGREGATES)
        out["aggregate.shuffle_bytes"] = (
            ex.metric("shuffleBytesWritten") if ex else 0
        )
        out["aggregate.partition_skew"] = (
            skew(ex.partition_bytes) if ex else 0.0
        )
        partial = ex.producer() if ex else None
        out["aggregate.partial_rows"] = (
            partial.metric("numOutputRows") if partial else 0
        )
    finally:
        routed.unpersist()
        events.unpersist()
    return out


class _CoreTimers:
    """Wraps the ``core`` functions the parse UDF calls with timers and
    counters; restores them on exit."""

    NAMES = ("split_blocks_pos", "parse_gc_line", "parse_heap_block")

    def __init__(self):
        self.seconds = dict.fromkeys(self.NAMES, 0.0)
        self.blocks = 0
        self._orig = {}

    def __enter__(self):
        self._orig = {n: getattr(core, n) for n in self.NAMES}
        split = self._orig["split_blocks_pos"]

        def split_blocks_pos(text, heap_stats):
            t = time.perf_counter()
            blocks = list(split(text, heap_stats))
            self.seconds["split_blocks_pos"] += time.perf_counter() - t
            self.blocks += len(blocks)
            return blocks

        def timed(name):
            fn = self._orig[name]

            def wrapper(block):
                t = time.perf_counter()
                try:
                    return fn(block)
                finally:
                    self.seconds[name] += time.perf_counter() - t

            return wrapper

        core.split_blocks_pos = split_blocks_pos
        core.parse_gc_line = timed("parse_gc_line")
        core.parse_heap_block = timed("parse_heap_block")
        return self

    def __exit__(self, *exc):
        for n, fn in self._orig.items():
            setattr(core, n, fn)
        return False


def udf_body_metrics(extracted) -> dict:
    """Run the narrow parse's ``mapInPandas`` function in this process
    on the extract output's Arrow batches (the ``udf.func`` pattern)."""
    batches = [b.to_pandas() for b in extracted.toArrow().to_batches()]

    def body():
        fn = parse_op._parse_pages_fn(False)
        return sum(len(pdf) for pdf in fn(iter(batches)))

    t = time.perf_counter()
    events = body()
    body_s = time.perf_counter() - t
    with _CoreTimers() as timers:
        body()
    parse_s = (timers.seconds["parse_gc_line"]
               + timers.seconds["parse_heap_block"])
    split_s = timers.seconds["split_blocks_pos"]
    return {
        "parse.udf_body_s": body_s,
        "parse.assemble_s": max(body_s - split_s - parse_s, 0.0),
        "core.split_s": split_s,
        "core.parse_gc_line_s": timers.seconds["parse_gc_line"],
        "core.parse_heap_block_s": timers.seconds["parse_heap_block"],
        "core.blocks": timers.blocks,
        "core.events": events,
        "core.blocks_skipped": timers.blocks - events,
        "core.useful_ratio": events / timers.blocks if timers.blocks else 0.0,
    }


def _dir_files(path: str) -> tuple:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def job_metrics(spark, pages_dir: str, expected: dict, out_dir: str,
                chunks: int, tracer: Tracer) -> tuple:
    """The ``jobs/gclog_pipeline.py`` sequence over long logs: window
    stitch alone, then the ledger run, the exact aggregate write and the
    per-sink catalog fan-out.  Returns ``(metrics, errors)``."""
    out, errors = {}, []
    pages = passes.pages_frame(spark, pages_dir)

    with tracer.span("layer.window_stitch"):
        stitched = parse_op.parse_events(pages, stitch="window")
        counted = stitched.groupBy().count()
        out["window.wall_s"] = _wall(counted.collect)
    plan = executed_plan(counted)
    gen = plan.find("Generate")
    out["window.lines_total"] = gen[0].metric("numOutputRows") if gen else 0
    cand = gen[0].consumer() if gen else None
    out["window.candidate_lines"] = (
        cand.metric("numOutputRows") if cand else 0
    )
    ex = exchange_into(plan, "Window")
    out["window.shuffle_bytes"] = ex.metric("shuffleBytesWritten") if ex else 0
    out["window.partition_skew"] = skew(ex.partition_bytes) if ex else 0.0

    shutil.rmtree(out_dir, ignore_errors=True)
    sc = spark.sparkContext
    group = f"perfbench-ledger-{os.getpid()}"
    t_job = time.perf_counter()
    with tracer.span("plans.ledger.run_checkpointed"):
        sc.setJobGroup(group, "ledger")
        try:
            summary = run_checkpointed(
                spark, pages, out_path=f"{out_dir}/events",
                ledger_path=f"{out_dir}/ledger", n_chunks=chunks,
                stitch="window",
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    with tracer.span("operators.aggregate.per_sink_hourly"):
        events = spark.read.parquet(f"{out_dir}/events")
        per_sink_hourly(events, exact=True).write.mode("overwrite").parquet(
            f"{out_dir}/agg"
        )
    with tracer.span("operators.route.fanout_commit_catalog"):
        t = time.perf_counter()
        committed = fanout_commit_catalog(events, f"{out_dir}/sinks")
        out["route.fanout_s"] = time.perf_counter() - t
    out["job.wall_s"] = time.perf_counter() - t_job

    walls = [r["wall_seconds"] for r in
             spark.read.parquet(f"{out_dir}/ledger").collect()]
    out["ledger.chunks_run"] = summary["chunks_run"]
    out["ledger.chunk_wall_p50_s"] = statistics.median(walls) if walls else 0.0
    out["ledger.chunk_wall_max_s"] = max(walls, default=0.0)
    out["ledger.scan_rows_total"] = stage_input_records(spark, group)
    out["ledger.events_recorded"] = summary["events"] or 0
    out["route.sinks_committed"] = len(committed)
    out["route.files_written"], out["route.bytes_written"] = _dir_files(
        f"{out_dir}/sinks"
    )

    written = spark.read.parquet(f"{out_dir}/events").count()
    out["job.events_written"] = written
    if written != expected["events"]:
        errors.append(
            f"job events written {written} want {expected['events']}"
        )
    agg_rows = spark.read.parquet(f"{out_dir}/agg").select(
        "sink", F.unix_seconds("hour").alias("hour"), "events",
        "heap_reclaimed_sum",
    ).collect()
    errors += [f"job agg {e}" for e in
               passes.group_errors(agg_rows, expected["groups"])]
    shutil.rmtree(out_dir, ignore_errors=True)
    return out, errors
