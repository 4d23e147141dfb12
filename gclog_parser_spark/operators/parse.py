"""parse stage: pages → events DataFrame (SURVEY.md §2.2, §3.4).

Two physical strategies with identical semantics and output schema:

``stitch='narrow'`` (default) — **zero-shuffle**.  One page row holds one
complete log, so line grouping + event stitching run inside a single
``mapInPandas`` pass (Arrow-batched).  At the 100 TB design point this is
the plan of choice: throughput scales linearly with executors because
there is no exchange at all between the columnar scan and the event rows.

``stitch='window'`` — the north-rule **window-based line grouping**
(replaces the reference's recursive descent, Parser.scala:117-145):
``posexplode`` the lines, classify them with *native* Spark predicates,
**drop web filler before the shuffle** (the shuffle then carries only GC
candidate lines — a small fraction of the corpus), assign
``event_seq = sum(is_start) over (partition by url order by line_no)``,
re-assemble blocks with a hash aggregate that *reuses the window's
hash(url) partitioning* (no second exchange), and parse the stitched
blocks in ``mapInPandas``.  Use this when a single log is too large for
one task or when logs arrive pre-split in line-oriented chunks.

Both plans keep all heavy lifting either in WholeStageCodegen (classify,
group, re-assemble) or in Arrow-vectorized Python (block parse); there is
no row-at-a-time Python UDF anywhere (BASELINE.json input_hint).
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from gclog_parser_spark import core
from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
from gclog_parser_spark.schema import EVENTS_SCHEMA, REGION_TYPE

# Inside the UDF, timestamps travel as int64 epoch-micros: per-row
# pandas.Timestamp boxing on the way in and per-object datetime
# inspection on the way out were a measurable share of the Arrow
# boundary cost.  The public schema (EVENTS_SCHEMA) is restored by a
# native projection right after the UDF.
_UDF_SCHEMA = T.StructType(
    [
        T.StructField(
            f.name,
            T.LongType()
            if f.name in ("warc_ts", "event_time")
            else f.dataType,
            True,
        )
        for f in EVENTS_SCHEMA.fields
    ]
)

def extract_gc_text(
    pages: DataFrame, text_col: str = "text", require_marker: bool = True
) -> DataFrame:
    """Columnar extraction of the embedded log: the bytes strictly between
    OPEN_MARK and CLOSE_MARK (datagen layout).  ``substring_index`` stays
    in WholeStageCodegen; the contains() pre-filter is pushed into the
    scan so pages without logs are skipped before any string surgery.

    ``require_marker=False`` serves marker-less inputs (raw log files
    from sources.read_gc_logs): ``substring_index`` is the identity when
    the delimiter is absent, so the same expression handles both."""
    text = f"`{text_col}`"
    if require_marker:
        pages = pages.where(f"contains({text}, '{OPEN_MARK}')")
    return pages.selectExpr(
        "url",
        "unix_micros(warc_ts) AS warc_ts",
        f"substring_index(substring_index({text}, '{OPEN_MARK}\n', -1),"
        f" '{CLOSE_MARK}', 1) AS gc_text",
    )


# ---------------------------------------------------------------------------
# Event dict → output columns
# ---------------------------------------------------------------------------

_EPOCH_ORD = datetime(1970, 1, 1).toordinal()


def _epoch_us(t) -> int:
    """Exact epoch-micros from an aware datetime via integer field
    arithmetic — both ``t.timestamp()`` (float, rounds) and
    ``(t - epoch) // timedelta`` (timedelta allocation + floordiv,
    ~20 µs/event) were measurably wrong/slow in the hot loop."""
    secs = (
        (t.toordinal() - _EPOCH_ORD) * 86400
        + t.hour * 3600
        + t.minute * 60
        + t.second
    )
    us = secs * 1_000_000 + t.microsecond
    off = t.utcoffset()
    if off is not None:
        us -= (off.days * 86400 + off.seconds) * 1_000_000
    return us


_COLUMNS = EVENTS_SCHEMA.names
_RESTORE = [
    f"timestamp_micros({c}) AS {c}" if c in ("warc_ts", "event_time") else c
    for c in _COLUMNS
]
_REGION_FIELDS = REGION_TYPE.names


class _Columns:
    """Per-column value lists in ``_COLUMNS`` order: each parsed event
    appends its values straight into them, and a batch leaves the UDF
    as one ``pd.DataFrame`` built from the lists — no per-event dict,
    no ``from_records`` row-to-column transpose."""

    def __init__(self):
        self.cols = [[] for _ in _COLUMNS]

    def add(self, url, warc_ts, event_idx, line_no, ev):
        (c_url, c_warc_ts, c_idx, c_line, c_time, c_tz, c_age, c_class,
         c_type, c_cause, c_before, c_after, c_max, c_reclaimed, c_pause,
         c_gens, c_regions, c_promoted, c_survivor, c_threshold,
         c_stopped, c_to_stop) = self.cols
        heap = ev["heap"]
        t = ev["time"]
        tenuring = ev["tenuring"]
        to_bytes = core.to_bytes
        c_url.append(url)
        c_warc_ts.append(warc_ts)
        c_idx.append(event_idx)
        c_line.append(line_no)
        c_time.append(_epoch_us(t) if t is not None else None)
        c_tz.append(core.tz_offset_str(t))
        c_age.append(ev["age"])
        c_class.append("detailed" if ev["regions"] else ev["gc_class"])
        c_type.append(ev["gc_type"])
        c_cause.append(ev["gc_cause"])
        c_before.append(to_bytes(heap[0]) if heap else None)
        c_after.append(to_bytes(heap[1]) if heap else None)
        # ZGC summary lines carry no capacity → max stays NULL
        c_max.append(to_bytes(heap[2]) if heap and heap[2] else None)
        c_reclaimed.append(core.reclaimed_bytes(heap) if heap else None)
        c_pause.append(ev["pause"])
        c_gens.append([
            dict(name=n, before_bytes=to_bytes(b), after_bytes=to_bytes(a),
                 capacity_bytes=to_bytes(c))
            for n, b, a, c in ev["generations"]
        ])
        c_regions.append([dict(zip(_REGION_FIELDS, r)) for r in ev["regions"]])
        c_promoted.append(core.promoted_bytes(ev))
        c_survivor.append(int(tenuring[0]) if tenuring else None)
        c_threshold.append(int(tenuring[1]) if tenuring else None)
        c_stopped.append(ev.get("stopped"))
        c_to_stop.append(ev.get("to_stop"))

    def frame(self) -> pd.DataFrame:
        # empty lists would infer float64, which Arrow cannot convert to
        # the nested column types
        kind = None if self.cols[0] else object
        return pd.DataFrame(dict(zip(_COLUMNS, self.cols)), dtype=kind)


def _restore_timestamps(events: DataFrame) -> DataFrame:
    """int64 micros (UDF wire format) → TimestampType, native exprs."""
    return events.selectExpr(*_RESTORE)


def _parse_block(block: str, heap_stats: bool):
    """Parse one stitched block; malformed blocks vanish like the
    reference's IgnoredLine (Parser.scala:75)."""
    try:
        if heap_stats:
            if block.startswith("{"):
                return core.parse_heap_block(block)
            ev = core.parse_gc_line(block)
            return ev if ev and ev["gc_class"] == "app_stopped" else None
        return core.parse_gc_line(block)
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# narrow path
# ---------------------------------------------------------------------------

def _parse_pages_fn(heap_stats: bool, counters=None):
    """``counters``: optional (events, skipped_blocks) SparkContext
    accumulators — the north rule's per-partition metrics; near-zero
    overhead (one add per partition)."""

    def fn(iterator):
        n_events = n_skipped = 0
        for pdf in iterator:
            out = _Columns()
            for url, wts, text in zip(
                pdf["url"].tolist(),
                pdf["warc_ts"].tolist(),
                pdf["gc_text"].tolist(),
            ):
                idx = 0
                for line_no, block in core.split_blocks_pos(
                    text, heap_stats
                ):
                    ev = _parse_block(block, heap_stats)
                    if ev is not None:
                        out.add(url, wts, idx, line_no, ev)
                        idx += 1
                    else:
                        n_skipped += 1
                n_events += idx
            yield out.frame()
        if counters:
            counters[0].add(n_events)
            counters[1].add(n_skipped)

    return fn


def _parse_narrow(src: DataFrame, heap_stats: bool, counters) -> DataFrame:
    return _restore_timestamps(
        src.mapInPandas(_parse_pages_fn(heap_stats, counters), _UDF_SCHEMA)
    )


# ---------------------------------------------------------------------------
# window path
# ---------------------------------------------------------------------------

def _parse_blocks_fn(heap_stats: bool, counters=None):
    def fn(iterator):
        n_events = n_skipped = 0
        for pdf in iterator:
            out = _Columns()
            for url, wts, line_no, block in zip(
                pdf["url"].tolist(),
                pdf["warc_ts"].tolist(),
                pdf["line_no"].tolist(),
                pdf["block"].tolist(),
            ):
                ev = _parse_block(block, heap_stats)
                if ev is not None:
                    # event_idx re-derived below by a row_number window
                    out.add(url, wts, -1, line_no, ev)
                    n_events += 1
                else:
                    n_skipped += 1
            yield out.frame()
        if counters:
            counters[0].add(n_events)
            counters[1].add(n_skipped)

    return fn


def _line_flags(line, heap_stats: bool):
    """(is_start, is_cont, is_open, is_close) Columns for one log
    line: ``core.classify_line`` as native Spark predicates (pinned
    against it on every fixture line in tests/test_spark_parse.py)."""
    # ONE alternation regex for all three start shapes: each extra
    # rlike is a full regex-engine pass over every one of the ~70
    # lines/page, and the flags are needed twice (filter + carried
    # column) — computing them once in a projection, then filtering on
    # the materialized flags, keeps it to 2 regex passes per line
    # (core's classifier patterns are valid Java regex as written;
    # rlike ignores UNIFIED_START_RE's capture groups)
    start_any = "|".join(
        f"(?:{r.pattern})"
        for r in (
            core.GC_START_RE, core.APPSTOP_START_RE, core.UNIFIED_START_RE
        )
    )
    is_start = line.rlike(start_any)
    is_cont = line.rlike(core.CONTINUATION_RE.pattern)
    if not heap_stats:
        return is_start, is_cont, F.lit(False), F.lit(False)
    # region lines are space-prefixed; the bare 'Heap after ...'
    # header must survive the pre-shuffle filter too
    is_cont = (
        is_cont
        | line.startswith(" ")
        | line.rlike(r"^\{?Heap (before|after)")
    )
    return (
        is_start,
        is_cont,
        line.startswith("{Heap before"),
        F.rtrim(line) == "}",
    )


def _parse_window(src: DataFrame, heap_stats: bool, counters) -> DataFrame:
    lines = src.select(
        "url",
        "warc_ts",
        F.posexplode(F.split("gc_text", "\n")).alias("line_no", "line"),
    )
    is_start, is_cont, is_open, is_close = _line_flags(
        F.col("line"), heap_stats
    )

    # Filler is dropped HERE, map-side, before the one shuffle: the
    # exchange carries only GC-candidate lines.
    lines = lines.select(
        "url",
        "warc_ts",
        "line_no",
        "line",
        is_start.alias("is_start"),
        is_cont.alias("is_cont"),
        is_open.cast("int").alias("opens"),
        is_close.cast("int").alias("closes"),
    ).where(
        F.col("is_start") | F.col("is_cont")
        | (F.col("opens") == 1) | (F.col("closes") == 1)
    ).drop("is_cont")

    w_prev = (
        Window.partitionBy("url")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cur = (
        Window.partitionBy("url")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    depth = (
        F.coalesce(F.sum("opens").over(w_prev), F.lit(0))
        - F.coalesce(F.sum("closes").over(w_prev), F.lit(0))
    )
    eff_start = (
        ((F.col("opens") == 1) | F.col("is_start")) & (depth == 0)
        if heap_stats
        else F.col("is_start")
    )
    lines = lines.withColumn(
        "event_seq", F.sum(eff_start.cast("int")).over(w_cur)
    ).where(F.col("event_seq") > 0)

    # Re-assemble blocks natively.  The hash aggregate's clustering on
    # (url, event_seq) is satisfied by the window's hash(url) exchange,
    # so this does NOT shuffle again.
    blocks = lines.groupBy("url", "warc_ts", "event_seq").agg(
        F.min("line_no").alias("line_no"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_no", "line"))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("block"),
    )

    events = _restore_timestamps(
        blocks.select("url", "warc_ts", "line_no", "block").mapInPandas(
            _parse_blocks_fn(heap_stats, counters), _UDF_SCHEMA
        )
    )

    # Gap-free per-url event index (events DF is tiny vs the line stream).
    w_idx = Window.partitionBy("url").orderBy("line_no")
    return events.withColumn(
        "event_idx", (F.row_number().over(w_idx) - 1).cast("int")
    )


def parse_events(
    pages: DataFrame,
    mode: str = "gc_line",
    stitch: str = "narrow",
    require_marker: bool = True,
    counters=None,
) -> DataFrame:
    """Public API (reference ``Parser.parseLog`` /
    ``parseWithHeapStats``, Parser.scala:119-132; JavaParser.java:7-11).

    mode: 'gc_line' | 'heap_stats'; stitch: 'narrow' | 'window'.

    ``counters`` (a ``PipelineMetrics``): ``pages`` is an
    ``Observation`` of the extract output, ``events``/``skipped_blocks``
    are accumulators fed by the parse UDF — the same counts under
    either stitch.
    """
    if mode not in ("gc_line", "heap_stats"):
        raise ValueError(f"unknown mode {mode!r}")
    if stitch == "narrow":
        parse = _parse_narrow
    elif stitch == "window":
        parse = _parse_window
    else:
        raise ValueError(f"unknown stitch {stitch!r}")
    src = extract_gc_text(pages, require_marker=require_marker)
    if counters is not None:
        src = src.observe(counters.pages, F.count(F.lit(1)).alias("pages"))
        # the UDFs ship only the (picklable) accumulators
        counters = (counters.events, counters.skipped_blocks)
    return parse(src, mode == "heap_stats", counters)
