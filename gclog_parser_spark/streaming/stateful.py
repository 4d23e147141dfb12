"""Custom stateful streaming operator: cross-batch RateCalculator.

``parse_stream`` needs no state because one page carries one whole log.
But when a single JVM's log arrives *split across pages/micro-batches*
(tailed files, Kafka chunks), the reference's ``RateCalculator``
scan state — the previous non-AppStopped event's (jvmAgeMillis,
heap_after) (RateCalculator.scala:13-30) — must survive batch
boundaries.  This is exactly Structured Streaming's
``applyInPandasWithState``: state keyed by url, one tiny tuple per live
log, GroupStateTimeout to evict finished logs.

Semantics are identical to operators/rates.py (W1-W3) and
core.calculate_rates: AppStopped rows emit (0,0,0,0) and do not advance
state; events without heap advance state but allocate 0; truncating
integer division; first event allocates its own heap_before.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from gclog_parser_spark.core import half_up, to_ticks
from gclog_parser_spark.schema import EVENTS_SCHEMA

STATE_SCHEMA = StructType(
    [
        StructField("prev_age_ms", LongType()),
        StructField("prev_heap_after", LongType()),
    ]
)

# Scalar columns only: the state-API Arrow channel crashes the Python
# worker on array<struct> columns (generations/regions) in this PySpark
# build, and rates never read them anyway.
_SCALAR_COLS = [
    "url",
    "warc_ts",
    "event_idx",
    "line_no",
    "event_time",
    "jvm_age_seconds",
    "gc_class",
    "gc_type",
    "gc_cause",
    "heap_before_bytes",
    "heap_after_bytes",
    "heap_max_bytes",
    "heap_reclaimed_bytes",
    "pause_seconds",
    "promoted_bytes",
]

RATED_SCHEMA = StructType(
    [f for f in EVENTS_SCHEMA.fields if f.name in _SCALAR_COLS]
    + [
        StructField("bytes_allocated_since_last", LongType()),
        StructField("millis_since_last", LongType()),
        StructField("heap_allocation_rate", LongType()),
        StructField("promotion_rate", LongType()),
    ]
)


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _rate_events(key, pdf_iter, state, end_marker_col=None):
    """Grouped-map-with-state fn: events of one url, in arrival order."""
    if state.exists:
        prev_age_ms, prev_heap_after = state.get
    else:
        prev_age_ms, prev_heap_after = None, None

    log_ended = False
    out = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["event_idx"])
        if end_marker_col is not None and bool(
            pdf[end_marker_col].fillna(False).any()
        ):
            log_ended = True
        for rec in pdf.to_dict("records"):
            age_ms = int(rec["jvm_age_seconds"] * 1000)
            heap_before = rec["heap_before_bytes"]
            heap_before = (
                None if pd.isna(heap_before) else int(heap_before)
            )
            heap_after = rec["heap_after_bytes"]
            heap_after = None if pd.isna(heap_after) else int(heap_after)
            if rec["gc_class"] == "app_stopped":
                allocated = millis = 0
            elif prev_age_ms is None:
                allocated = heap_before if heap_before is not None else 0
                millis = age_ms
                prev_age_ms, prev_heap_after = age_ms, heap_after
            else:
                if heap_before is not None and prev_heap_after is not None:
                    allocated = heap_before - prev_heap_after
                else:
                    allocated = 0
                millis = age_ms - prev_age_ms
                prev_age_ms, prev_heap_after = age_ms, heap_after
            rec["bytes_allocated_since_last"] = allocated
            rec["millis_since_last"] = millis
            rec["heap_allocation_rate"] = (
                0 if millis == 0 else _tdiv(allocated, millis)
            )
            promoted = rec["promoted_bytes"]
            rec["promotion_rate"] = (
                _tdiv(int(promoted), millis)
                if (not pd.isna(promoted) and millis != 0)
                else 0
            )
            out.append(rec)

    if log_ended:
        state.remove()  # bounded state: finished logs evict explicitly
    else:
        state.update((prev_age_ms, prev_heap_after))
    cols = [f.name for f in RATED_SCHEMA.fields]
    yield pd.DataFrame.from_records(out, columns=cols)


def stateful_rates(
    events: DataFrame, end_marker_col: str | None = None
) -> DataFrame:
    """Streaming events (from ``parse_stream`` without rates) → events +
    rate columns, with the previous-event state carried across
    micro-batches per url.

    ``end_marker_col`` names an optional boolean column; when any row of
    a url's batch sets it, that url's state is removed after processing
    — the explicit end-of-log eviction path (a tail-source would set it
    on file close / session end).  Timeout-driven eviction is
    unavailable in this PySpark build (see below), so this marker is
    how state stays bounded on an unbounded url universe."""
    cols = _SCALAR_COLS + (
        [end_marker_col] if end_marker_col else []
    )

    def fn(key, pdf_iter, state):
        return _rate_events(
            key, pdf_iter, state, end_marker_col=end_marker_col
        )

    return events.select(*cols).groupBy(
        "url"
    ).applyInPandasWithState(
        fn,
        outputStructType=RATED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # NoTimeout: this PySpark build NPEs planning the timeout-driven
        # empty batch (PythonSQLMetrics on a null session).  State stays
        # one 16-byte tuple per live log; evict via ``end_marker_col``
        # or by restarting the query per processing epoch.
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("p_sum", LongType()),
        StructField("p_min", LongType()),
    ]
)

CUSUM_SCHEMA = StructType(
    [
        StructField("url", EVENTS_SCHEMA["url"].dataType),
        StructField("event_idx", EVENTS_SCHEMA["event_idx"].dataType),
        StructField("pause_ticks", LongType()),
        StructField("cusum_ticks", LongType()),
        StructField("alarm", BooleanType()),
    ]
)


def stateful_cusum(
    events: DataFrame,
    target_ms: int = 100,
    threshold_ms: int = 500,
    end_marker_col: str | None = None,
) -> DataFrame:
    """Streaming twin of ``rates.pause_cusum`` — the always-on pause
    drift alarm: per-url CUSUM carried across micro-batches as TWO
    BIGINT words of state, (running deviation sum P, running min of
    P).  The prefix identity S = P − min(0, min P) makes the state
    O(1) per live JVM forever — no pause history is retained — and
    the emitted rows are BIT-IDENTICAL to the batch operator on the
    same event sequence (pinned in tests): an on-call can swap the
    nightly batch scan for the live stream and read the same ticks.

    Same eviction contract as :func:`stateful_rates`
    (``end_marker_col``; NoTimeout — see that docstring)."""
    target_ticks = target_ms * 10_000
    threshold_ticks = threshold_ms * 10_000
    cols = ["url", "event_idx", "pause_seconds"] + (
        [end_marker_col] if end_marker_col else []
    )

    def fn(key, pdf_iter, state):
        if state.exists:
            p_sum, p_min = state.get
        else:
            p_sum, p_min = 0, 0
        log_ended = False
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["event_idx"])
            if end_marker_col is not None and bool(
                pdf[end_marker_col].fillna(False).any()
            ):
                log_ended = True
            for rec in pdf.to_dict("records"):
                if pd.isna(rec["pause_seconds"]):
                    continue
                ticks = to_ticks(rec["pause_seconds"])
                p_sum += ticks - target_ticks
                p_min = min(p_min, p_sum)
                cusum = p_sum - min(0, p_min)
                out.append(
                    {
                        "url": rec["url"],
                        "event_idx": rec["event_idx"],
                        "pause_ticks": ticks,
                        "cusum_ticks": cusum,
                        "alarm": cusum >= threshold_ticks,
                    }
                )
        if log_ended:
            state.remove()
        else:
            state.update((p_sum, p_min))
        cols_out = [f.name for f in CUSUM_SCHEMA.fields]
        yield pd.DataFrame.from_records(out, columns=cols_out)

    return events.select(*cols).groupBy("url").applyInPandasWithState(
        fn,
        outputStructType=CUSUM_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _slo_schemas(k: int):
    state = StructType(
        [
            StructField("run_id", LongType()),
            StructField("last_age_ms", LongType()),
            StructField("l_bucket", LongType()),
        ]
        + [StructField(f"t{j}", LongType()) for j in range(k)]
    )
    out = StructType(
        [
            StructField("url", EVENTS_SCHEMA["url"].dataType),
            StructField("run_id", LongType()),
            StructField("win_start_s", LongType()),
            StructField("ticks_short", LongType()),
            StructField("ticks_long", LongType()),
            StructField("burn_short", DoubleType()),
            StructField("burn_long", DoubleType()),
            StructField("alarm", BooleanType()),
        ]
    )
    return state, out


def stateful_slo_burn(
    events: DataFrame,
    short_s: int = 60,
    long_s: int = 300,
    slo: float = 0.01,
    burn_threshold: float = 1.0,
    end_marker_col: str | None = None,
    flush_on_batch_end: bool = False,
) -> DataFrame:
    """Streaming twin of ``rates.slo_burn`` — the always-on SLO pager:
    per-JVM state is the OPEN long window only (run_id, last age, long
    bucket, and its ≤ k short-bucket tick sums — a handful of BIGINTs,
    never pause history), and a long window's short rows are emitted
    the moment the window CLOSES: the jvm age advances past it, a
    jvm_age reset starts a new run (the batch restart rule), the
    url's ``end_marker_col`` row arrives (state evicts, as
    :func:`stateful_rates`), or — with ``flush_on_batch_end`` for
    whole-log-per-page sources like the pages corpus — the group's
    batch input ends.  Emitted rows are value-identical to the batch
    operator (same exact-tick sums; burn doubles HALF_UP-rounded by
    the same BigDecimal-equivalent rule), so stream and batch share
    one DuckDB oracle and an on-call can swap the nightly scan for
    the live alert feed."""
    if long_s % short_s != 0:
        raise ValueError("long_s must be a multiple of short_s")
    k = long_s // short_s
    den_short = short_s * 10_000_000 * slo
    den_long = long_s * 10_000_000 * slo
    if den_short != int(den_short):
        raise ValueError("short_s * 1e7 * slo must be integral")
    den_short, den_long = int(den_short), int(den_long)
    short_ms = short_s * 1000
    state_schema, out_schema = _slo_schemas(k)
    cols = ["url", "event_idx", "jvm_age_seconds", "pause_seconds"] + (
        [end_marker_col] if end_marker_col else []
    )

    def fn(key, pdf_iter, state):
        (url,) = key
        if state.exists:
            st = state.get
            run_id, last_age, l_bucket = st[0], st[1], st[2]
            shorts = list(st[3:])
        else:
            run_id, last_age, l_bucket = 0, None, None
            shorts = [None] * k

        out = []

        def flush():
            nonlocal shorts, l_bucket
            if l_bucket is None:
                return
            ticks_long = sum(t for t in shorts if t is not None)
            burn_l = half_up(ticks_long / den_long, 6)
            for j, t in enumerate(shorts):
                if t is None:
                    continue
                burn_s = half_up(t / den_short, 6)
                out.append(
                    {
                        "url": url,
                        "run_id": run_id,
                        "win_start_s": (l_bucket * k + j) * short_s,
                        "ticks_short": t,
                        "ticks_long": ticks_long,
                        "burn_short": burn_s,
                        "burn_long": burn_l,
                        "alarm": burn_s >= burn_threshold
                        and burn_l >= burn_threshold,
                    }
                )
            shorts, l_bucket = [None] * k, None

        log_ended = False
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["event_idx"])
            if end_marker_col is not None and bool(
                pdf[end_marker_col].fillna(False).any()
            ):
                log_ended = True
            for rec in pdf.to_dict("records"):
                if pd.isna(rec["pause_seconds"]) or pd.isna(
                    rec["jvm_age_seconds"]
                ):
                    continue
                age_ms = int(rec["jvm_age_seconds"] * 1000)
                ticks = to_ticks(rec["pause_seconds"])
                if last_age is not None and age_ms < last_age:
                    flush()  # restart boundary: close the open window
                    run_id += 1
                last_age = age_ms
                s_bucket = age_ms // short_ms
                lb = s_bucket // k
                if l_bucket is not None and lb != l_bucket:
                    flush()  # age advanced past the open long window
                l_bucket = lb
                j = s_bucket - lb * k
                shorts[j] = (shorts[j] or 0) + ticks

        if log_ended or flush_on_batch_end:
            flush()
            state.remove()
        else:
            state.update(tuple([run_id, last_age, l_bucket] + shorts))
        cols_out = [f.name for f in out_schema.fields]
        yield pd.DataFrame.from_records(out, columns=cols_out)

    return events.select(*cols).groupBy("url").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


JITTER_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("sx", LongType()),
        StructField("sxx", LongType()),
    ]
)

JITTER_SCHEMA = StructType(
    [
        StructField("url", EVENTS_SCHEMA["url"].dataType),
        StructField("n_pauses", LongType()),
        StructField("mean_pause_ms", DoubleType()),
        StructField("var_pause_ms2", DoubleType()),
        StructField("stddev_pause_ms", DoubleType()),
    ]
)


def stateful_jitter(
    events: DataFrame, end_marker_col: str | None = None
) -> DataFrame:
    """Streaming twin of ``rates.pause_jitter`` — the live latency-
    regularity row: per-JVM (n, Σx, Σx²) carried across micro-batches
    as THREE BIGINT words (the Welford/Chan merge needs nothing else
    because the tick sums are exact integers — no float state, no
    catastrophic cancellation).  Each batch that brings a JVM timed
    pauses emits ONE cumulative snapshot row; with whole-log-per-page
    batches (the contract stream) that is exactly one row per url,
    value-identical to the batch operator — same oracle, same
    nightly-scan ⇄ live-dashboard swap guarantee as the CUSUM/SLO
    twins.  Split logs emit intermediate snapshots whose FINAL row
    equals the batch result (pinned in tests).

    Division parity: Spark's long/long divide casts each EXACT BIGINT
    operand to double first — the twin mirrors ``float(num) /
    float(den)`` (NOT Python's exact big-int division, which differs
    past 2⁵³) and rounds with the BigDecimal-equivalent
    ``core.half_up``.  Eviction: the ``stateful_rates`` end-marker
    contract."""
    import math

    cols = ["url", "event_idx", "pause_seconds"] + (
        [end_marker_col] if end_marker_col else []
    )

    def fn(key, pdf_iter, state):
        if state.exists:
            n, sx, sxx = state.get
        else:
            n, sx, sxx = 0, 0, 0
        log_ended = False
        saw = False
        for pdf in pdf_iter:
            if end_marker_col is not None and bool(
                pdf[end_marker_col].fillna(False).any()
            ):
                log_ended = True
            for rec in pdf.to_dict("records"):
                if pd.isna(rec["pause_seconds"]):
                    continue
                t = to_ticks(rec["pause_seconds"])
                n += 1
                sx += t
                sxx += t * t
                saw = True
        out = []
        if saw and n > 0:
            mean = half_up(float(sx) / float(n * 10000), 6)
            if n > 1:
                v = (
                    float(n * sxx - sx * sx)
                    / float(n * (n - 1))
                    / 100000000.0
                )
                var = half_up(v, 6)
                std = half_up(math.sqrt(v), 6)
            else:
                var = None
                std = None
            out.append(
                {
                    "url": key[0],
                    "n_pauses": n,
                    "mean_pause_ms": mean,
                    "var_pause_ms2": var,
                    "stddev_pause_ms": std,
                }
            )
        if log_ended:
            state.remove()
        else:
            state.update((n, sx, sxx))
        cols_out = [f.name for f in JITTER_SCHEMA.fields]
        yield pd.DataFrame.from_records(out, columns=cols_out)

    return events.select(*cols).groupBy("url").applyInPandasWithState(
        fn,
        outputStructType=JITTER_SCHEMA,
        stateStructType=JITTER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
