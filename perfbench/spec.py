"""Workload sizes and the per-layer metric table of the benchmark.

Everything a reader needs to interpret a result lives here: how big each
generated input is, how many passes a run makes, and for every per-layer
metric the layer (module) it measures and the end-to-end metric and
workload it should move.  Metric names and units live in BENCHMARK.json.
"""

from __future__ import annotations

#: Spark task slots.  One driver process generates all load, with at
#: most ``SLOTS`` concurrent tasks (``local[SLOTS]``).
SLOTS = 4

#: JVM heap ceiling (the package's ``SPARK_DRIVER_MEM``; its default is
#: 8g).  Under 8g the JVM was still growing its heap at the end of a
#: run, by a different amount each time, and ``peak_rss_mb`` read
#: 2.6-4.6 GB on identical runs; under 2g it read 2.2-3.4 GB, with an
#: IQR of 0.07-0.14 of the median over ten seeds.  The inputs are under
#: 70 MB, and a run shares the host's memory.
DRIVER_MEM = "2g"

#: ``wall_tail_s`` is the highest percentile with at least this many
#: passes beyond it, so a run makes at least ``TAIL_BEYOND + 1`` passes,
#: even when that takes longer than ``--seconds``.  Passes run again for
#: CPU steal (``STEAL_MAX``) extend a run to at most ``MAX_SECONDS_FACTOR``
#: times ``--seconds``.
TAIL_BEYOND = 10
MAX_SECONDS_FACTOR = 3

#: Generator parameters per workload (the one-line reason each exists
#: is its ``why`` in BENCHMARK.json).  The sizes are the largest whose
#: runs fit the run budget (about a minute each: a fresh process, a
#: compiling first pass, then at least ``TAIL_BEYOND + 1`` timed and
#: checked passes).  Even so, Spark's fixed per-query cost (driver plan
#: building, stage scheduling, two shuffles, the broadcast) is about
#: half of a pass; a traced run prints each layer's share.
WORKLOADS = {
    "dense_small_logs": {
        "pages": 4000,
        "log_share": 1.0,
        "filler_bytes": (150, 400),
        "hot_hour_share": 0.7,
    },
    "sparse_crawl": {
        "pages": 16000,
        "log_share": 0.05,
        "filler_bytes": (2500, 6000),
        "hot_hour_share": 0.7,
    },
}

#: Input of the traced job layers (window stitch, ledger, route): a few
#: pages, each one long log made of concatenated fixture bodies.
LONG_LOGS = {"pages": 16, "fixtures_per_log": (40, 160), "chunks": 2}

#: A pass during which the hypervisor stole more than this share of the
#: CPUs' time is run again: on a shared host such passes read up to 2x
#: slower for reasons outside the program.  If the time cap leaves fewer
#: than ``TAIL_BEYOND + 1`` other passes, the least-stolen ones fill in.
#: Both counts are printed.
STEAL_MAX = 0.02

#: Untimed passes before timing; the first also checks the plan shape.
#: The first pass of a fresh process compiles the query (~10 s on a
#: 4-vCPU host).  The next still reads up to 40 % slow but is timed: the
#: run budget has no room for another, and the median absorbs it.
WARMUP_PASSES = 1

#: Traced run: this many untraced and as many traced passes, alternating;
#: the tracing overhead is printed with the spread of each group.
TRACE_PASSES = 4

_DENSE = "dense_small_logs"
_SPARSE = "sparse_crawl"
_JOB = "traced job"

#: Times summed over tasks or measured in one local thread, and the pass
#: walls themselves: no share of a wall is reported for them
#: (``layer_self_shares`` in the trace report apportions the pass).
NO_SHARE = {
    "scan.time_s", "arrow.python_total_s", "arrow.python_init_s",
    "enrich.broadcast_build_s", "core.split_s", "core.parse_gc_line_s",
    "core.parse_heap_block_s", "parse.udf_body_s", "parse.assemble_s",
    "trace.wall_p50_untraced_s", "trace.wall_p50_traced_s",
    "trace.overhead_s",
}

#: per-layer metric -> (layer, e2e metric it should move, workload).
#: Names and units are read from BENCHMARK.json; run.py refuses to run
#: when the two lists differ.
LAYER_METRICS = {
    "session.start_s": ("session", "setup_s", "all"),
    "session.worker_warm_s": ("session", "setup_s", "all"),
    "scan.rows": ("sources.pages scan", "pages_per_s", _SPARSE),
    "scan.file_bytes": ("sources.pages scan", "pages_per_s", _SPARSE),
    "scan.time_s": ("sources.pages scan", "pages_per_s", _SPARSE),
    "extract.wall_s": ("operators.parse extract", "pages_per_s", _SPARSE),
    "extract.rows_out": ("operators.parse extract", "pages_per_s", _SPARSE),
    "extract.selectivity": ("operators.parse extract", "pages_per_s", _SPARSE),
    "arrow.passthrough_wall_s": ("Arrow hop", "pages_per_s", _DENSE),
    "arrow.bytes_to_python": ("Arrow hop", "pages_per_s", _DENSE),
    "arrow.bytes_from_python": ("Arrow hop", "pages_per_s", _DENSE),
    "arrow.rows_from_python": ("Arrow hop", "pages_per_s", _DENSE),
    "arrow.python_total_s": ("Arrow hop", "pages_per_s", _DENSE),
    "arrow.python_init_s": ("Arrow hop", "pages_per_s", _DENSE),
    "parse.wall_s": ("operators.parse", "pages_per_s", _DENSE),
    "core.split_s": ("core", "pages_per_s", _DENSE),
    "core.blocks": ("core", "pages_per_s", _DENSE),
    "core.parse_gc_line_s": ("core", "pages_per_s", _DENSE),
    "core.parse_heap_block_s": ("core", "pages_per_s", _DENSE),
    "core.events": ("core", "pages_per_s", _DENSE),
    "core.blocks_skipped": ("core", "pages_per_s", _DENSE),
    "core.useful_ratio": ("core", "pages_per_s", _DENSE),
    "parse.udf_body_s": ("operators.parse assembly", "pages_per_s", _DENSE),
    "parse.assemble_s": ("operators.parse assembly", "pages_per_s", _DENSE),
    "rates.wall_s": ("operators.rates", "wall_p50_s", _DENSE),
    "rates.shuffle_bytes": ("operators.rates", "wall_p50_s", _DENSE),
    "enrich.wall_s": ("operators.enrich", "wall_p50_s", _DENSE),
    "enrich.broadcast_build_s": ("operators.enrich", "wall_p50_s", _DENSE),
    "enrich.rows_out": ("operators.enrich", "wall_p50_s", _DENSE),
    "aggregate.wall_s": ("operators.aggregate", "wall_p50_s", _DENSE),
    "aggregate.partial_rows": ("operators.aggregate", "wall_p50_s", _DENSE),
    "aggregate.shuffle_bytes": ("operators.aggregate", "wall_p50_s", _DENSE),
    "aggregate.partition_skew": ("operators.aggregate", "wall_p50_s", _DENSE),
    "window.wall_s": ("operators.parse window stitch", "job.wall_s", _JOB),
    "window.lines_total": ("operators.parse window stitch",
                           "job.wall_s", _JOB),
    "window.candidate_lines": ("operators.parse window stitch",
                               "job.wall_s", _JOB),
    "window.shuffle_bytes": ("operators.parse window stitch",
                             "job.wall_s", _JOB),
    "window.partition_skew": ("operators.parse window stitch",
                              "job.wall_s", _JOB),
    "route.fanout_s": ("operators.route", "job.wall_s", _JOB),
    "route.files_written": ("operators.route", "job.wall_s", _JOB),
    "route.bytes_written": ("operators.route", "job.wall_s", _JOB),
    "route.sinks_committed": ("operators.route", "job.wall_s", _JOB),
    "ledger.chunks_run": ("plans.ledger", "job.wall_s", _JOB),
    "ledger.chunk_wall_p50_s": ("plans.ledger", "job.wall_s", _JOB),
    "ledger.chunk_wall_max_s": ("plans.ledger", "job.wall_s", _JOB),
    "ledger.scan_rows_total": ("plans.ledger", "job.wall_s", _JOB),
    "ledger.events_recorded": ("plans.ledger", "job.wall_s", _JOB),
    "job.events_written": ("jobs pipeline", "job.wall_s", _JOB),
    "job.wall_s": ("jobs pipeline", "job.wall_s", _JOB),
    "rss.jvm_mb": ("process tree", "peak_rss_mb", _JOB),
    "rss.workers_mb": ("process tree", "peak_rss_mb", _JOB),
    "trace.wall_p50_untraced_s": ("benchmark", "wall_p50_s", "all"),
    "trace.wall_p50_traced_s": ("benchmark", "wall_p50_s", "all"),
    "trace.overhead_s": ("benchmark", "wall_p50_s", "all"),
}
