"""One measured Spark process (started by ``perfbench/run.py``).

Sets up, warms up, then runs closed-loop passes for ``--seconds`` (each
pass starts after the previous result is collected and checked); with
``--trace`` it alternates traced and untraced passes, then measures each
layer.

Protocol on stdout, one line each: ``PERFBENCH READY <json>`` once the
session is up and the Python workers are warm, ``PERFBENCH TIMED_BEGIN``
/ ``PERFBENCH TIMED_END`` around the timed passes, ``PERFBENCH
JOB_BEGIN`` / ``PERFBENCH JOB_END`` around a traced run's job layers,
and ``PERFBENCH RESULT <json>`` at the end.  Spark logs go to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402


def say(tag: str, payload=None) -> None:
    line = f"PERFBENCH {tag}"
    if payload is not None:
        line += " " + json.dumps(payload)
    print(line, flush=True)


def start_session(slots: int, work: str):
    """SparkSession via the package's own factory, then one tiny parse
    on every task slot so the Python workers are up."""
    from datetime import datetime

    import pandas as pd

    from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
    from gclog_parser_spark.fixtures import fixture_text
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        master=f"local[{slots}]",
        app_name="perfbench",
        shuffle_partitions=slots,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()
    text = f"x\n{OPEN_MARK}\n{fixture_text('cms')}{CLOSE_MARK}\n"
    tiny = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"warm://{i}" for i in range(slots)],
                "warc_ts": [datetime(2016, 11, 10)] * slots,
                "html": [None] * slots,
                "text": [text] * slots,
                "lang": ["en"] * slots,
            }
        ),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    parse_events(tiny).collect()
    t_warm = time.perf_counter()
    say("READY", {"session_s": t_session - T_START,
                  "worker_warm_s": t_warm - t_session})
    return spark


def run_passes(spark, args, expected, tracer=None, count=None):
    """Closed loop of read passes.  Untraced passes only, unless a
    ``tracer`` is given: then traced and untraced alternate.  Stops after
    ``count`` passes, or once ``args.seconds`` have elapsed and enough
    passes exist for the tail percentile."""
    from perfbench import layers, passes, spec
    from perfbench.proctree import cpu_ticks

    walls = {"untraced": [], "traced": []}
    events, failed, errors, plan_metrics = [], 0, [], []
    stolen = {"untraced": [], "traced": []}  # (steal share, wall)
    t0 = time.perf_counter()
    i = 0
    while True:
        n_untraced = len(walls["untraced"])
        n_done = n_untraced + len(stolen["untraced"])
        if count is not None and i >= count:
            break
        elapsed = time.perf_counter() - t0
        cap = spec.MAX_SECONDS_FACTOR * args.seconds
        if count is None and elapsed >= args.seconds and (
            n_untraced > spec.TAIL_BEYOND
            or (n_done > spec.TAIL_BEYOND and elapsed >= cap)
            or elapsed >= 2 * cap  # passes keep failing
        ):
            break
        traced = tracer is not None and i % 2 == 1
        try:
            steal0, total0 = cpu_ticks()
            t = time.perf_counter()
            if traced:
                rows, result = layers.traced_pass(spark, args.pages, tracer)
            else:
                rows = passes.read_pass(spark, args.pages).collect()
            wall = time.perf_counter() - t
            steal1, total1 = cpu_ticks()
            steal = (steal1 - steal0) / max(total1 - total0, 1)
            if traced:
                plan_metrics.append(layers.harvest_pass(result, tracer))
            errs = passes.check_pass(spark, args.pages, rows, expected)
            events.append(sum(r["events"] for r in rows))
        except Exception as e:  # a failed pass is counted, not fatal
            wall, errs = None, [f"{type(e).__name__}: {e}"]
        if errs:
            failed += 1
            errors.extend(errs[:3])
        elif steal > spec.STEAL_MAX:
            stolen["traced" if traced else "untraced"].append((steal, wall))
        else:
            walls["traced" if traced else "untraced"].append(wall)
        i += 1
    return {"walls": walls, "events": events, "attempted": i,
            "failed": failed, "errors": errors[:10],
            "stolen": stolen}, plan_metrics


def check_plan_shape(spark, pages_dir: str) -> list:
    """Run one pass and check its executed plan's operators.  The final
    adaptive plan's tree string includes every query stage's plan; an
    operator name follows a tree edge or a codegen stage marker."""
    import re

    from perfbench import passes

    result = passes.read_pass(spark, pages_dir)
    result.collect()
    tree = result._jdf.queryExecution().executedPlan().toString()
    return [f"plan lacks {n}" for n in passes.REQUIRED_NODES
            if not re.search(rf"(?:[+:]- |\*\(\d+\) ){n}\b", tree)]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--slots", type=int, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--pages", required=True)
    p.add_argument("--expected", required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--long-pages")
    p.add_argument("--long-expected")
    args = p.parse_args()

    from perfbench import spec

    spark = start_session(args.slots, args.work)
    try:
        with open(args.expected) as f:
            expected = json.load(f)
        shape_errors = check_plan_shape(spark, args.pages)
        # a traced run warms up once more: its first untraced pass would
        # otherwise read slow and bias the tracing overhead
        run_passes(spark, args, expected,
                   count=spec.WARMUP_PASSES - 1 + int(args.trace))
        tracer = None
        if args.trace:
            from perfbench.layers import Tracer

            tracer = Tracer()
        say("TIMED_BEGIN")
        res, plan_metrics = run_passes(
            spark, args, expected, tracer=tracer,
            count=2 * spec.TRACE_PASSES if args.trace else None,
        )
        say("TIMED_END")
        res["shape_errors"] = shape_errors
        if args.trace:
            res["layers"], res["spans"] = trace_layers(
                spark, args, plan_metrics, tracer, res
            )
        say("RESULT", res)
    finally:
        spark.stop()


def trace_layers(spark, args, plan_metrics, tracer, res):
    from perfbench import layers, spec

    out = {k: statistics.median(d[k] for d in plan_metrics)
           for k in plan_metrics[0]}
    out.update(layers.isolation_metrics(spark, args.pages, tracer))
    with open(args.long_expected) as f:
        long_expected = json.load(f)
    say("JOB_BEGIN")
    job, errors = layers.job_metrics(
        spark, args.long_pages, long_expected,
        os.path.join(args.work, f"job-{os.getpid()}"),
        spec.LONG_LOGS["chunks"], tracer,
    )
    say("JOB_END")
    out.update(job)
    res["attempted"] += 1  # the job counts as one more checked operation
    if errors:
        res["failed"] += 1
        res["errors"].extend(errors[:5])
    return out, tracer.spans


if __name__ == "__main__":
    main()
