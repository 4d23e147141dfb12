"""Custom stateful streaming operators: the per-url streaming twins
of the batch rates operators (``stateful_rates``, ``stateful_cusum``,
``stateful_slo_burn``, ``stateful_jitter``).

When a single JVM's log arrives *split across pages/micro-batches*
(tailed files, Kafka chunks), scan state such as the reference's
``RateCalculator`` previous event (RateCalculator.scala:13-30) must
survive batch boundaries.  That is Structured Streaming's
``applyInPandasWithState``: state keyed by url, a few BIGINT words per
live log.  All four twins run through ONE shell, ``_stateful``, and
supply only their fold; the rates fold calls ``core.rate_step``, the
step ``core.calculate_rates`` runs.
"""

from __future__ import annotations

import math

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

from gclog_parser_spark.core import half_up, rate_step, to_ticks
from gclog_parser_spark.operators.rates import (
    BURN_THRESHOLD,
    CUSUM_TARGET_MS,
    CUSUM_THRESHOLD_MS,
    SLO,
    SLO_LONG_S,
    SLO_SHORT_S,
)
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

_RATE_COLS = [f.name for f in RATED_SCHEMA.fields[-4:]]


def _opt_int(v):
    return None if pd.isna(v) else int(v)


def _stateful(events, cols, end_marker_col, out_schema, state_schema, fold):
    """The one ``applyInPandasWithState`` shell of the twins: per url,
    ``fold(key, state, recs, ended)`` gets the stored state (``None``
    on first sight), the url's batch rows as dicts (each Arrow chunk
    sorted by ``event_idx``) and whether any row set
    ``end_marker_col``.  It returns the state to keep, or ``None`` to
    evict it, and the output rows.  An end marker always evicts."""
    columns = [f.name for f in out_schema.fields]

    def fn(key, pdf_iter, state):
        recs, ended = [], False
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["event_idx"])
            if end_marker_col is not None and bool(
                pdf[end_marker_col].fillna(False).any()
            ):
                ended = True
            recs.extend(pdf.to_dict("records"))
        kept, rows = fold(
            key, state.get if state.exists else None, recs, ended
        )
        if ended or kept is None:
            state.remove()  # bounded state: finished logs evict explicitly
        else:
            state.update(kept)
        yield pd.DataFrame.from_records(rows, columns=columns)

    marker = [end_marker_col] if end_marker_col else []
    return events.select(*cols, *marker).groupBy(
        "url"
    ).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        # NoTimeout: this PySpark build NPEs planning the timeout-driven
        # empty batch (PythonSQLMetrics on a null session).  State stays
        # a few BIGINT words per live log; evict via ``end_marker_col``
        # or by restarting the query per processing epoch.
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _rates_fold(key, previous, recs, ended):
    previous = previous or (None, None)
    for rec in recs:
        rates, previous = rate_step(
            previous,
            int(rec["jvm_age_seconds"] * 1000),
            _opt_int(rec["heap_before_bytes"]),
            _opt_int(rec["heap_after_bytes"]),
            _opt_int(rec["promoted_bytes"]),
            rec["gc_class"] == "app_stopped",
        )
        rec.update(zip(_RATE_COLS, rates))
    return tuple(previous), recs


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
    unavailable in this PySpark build (see ``_stateful``), so this
    marker is how state stays bounded on an unbounded url universe."""
    return _stateful(
        events, _SCALAR_COLS, end_marker_col, RATED_SCHEMA, STATE_SCHEMA,
        _rates_fold,
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
    events: DataFrame, end_marker_col: str | None = None
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
    target_ticks = CUSUM_TARGET_MS * 10_000
    threshold_ticks = CUSUM_THRESHOLD_MS * 10_000

    def fold(key, st, recs, ended):
        p_sum, p_min = st or (0, 0)
        rows = []
        for rec in recs:
            if pd.isna(rec["pause_seconds"]):
                continue
            ticks = to_ticks(rec["pause_seconds"])
            p_sum += ticks - target_ticks
            p_min = min(p_min, p_sum)
            cusum = p_sum - min(0, p_min)
            rows.append(
                (rec["url"], rec["event_idx"], ticks, cusum,
                 cusum >= threshold_ticks)
            )
        return (p_sum, p_min), rows

    return _stateful(
        events, ["url", "event_idx", "pause_seconds"], end_marker_col,
        CUSUM_SCHEMA, CUSUM_STATE_SCHEMA, fold,
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
    k = SLO_LONG_S // SLO_SHORT_S
    den_short = int(SLO_SHORT_S * 10_000_000 * SLO)
    den_long = int(SLO_LONG_S * 10_000_000 * SLO)
    short_ms = SLO_SHORT_S * 1000
    state_schema, out_schema = _slo_schemas(k)

    def fold(key, st, recs, ended):
        (url,) = key
        if st is not None:
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
                out.append((
                    url, run_id, (l_bucket * k + j) * SLO_SHORT_S, t,
                    ticks_long, burn_s, burn_l,
                    burn_s >= BURN_THRESHOLD and burn_l >= BURN_THRESHOLD,
                ))
            shorts, l_bucket = [None] * k, None

        for rec in recs:
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

        if ended or flush_on_batch_end:
            flush()
            return None, out
        return tuple([run_id, last_age, l_bucket] + shorts), out

    return _stateful(
        events,
        ["url", "event_idx", "jvm_age_seconds", "pause_seconds"],
        end_marker_col, out_schema, state_schema, fold,
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

    def fold(key, st, recs, ended):
        n, sx, sxx = st or (0, 0, 0)
        saw = False
        for rec in recs:
            if pd.isna(rec["pause_seconds"]):
                continue
            t = to_ticks(rec["pause_seconds"])
            n += 1
            sx += t
            sxx += t * t
            saw = True
        out = []
        if saw:
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
            out.append((key[0], n, mean, var, std))
        return (n, sx, sxx), out

    return _stateful(
        events, ["url", "event_idx", "pause_seconds"], end_marker_col,
        JITTER_SCHEMA, JITTER_STATE_SCHEMA, fold,
    )
