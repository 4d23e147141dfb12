"""parse stage: pages → events DataFrame (SURVEY.md §2.2, §3.4).

Two physical strategies with identical semantics and output schema:

``stitch='narrow'`` (default) — **zero-shuffle**.  One page row holds one
complete log, so line grouping + event stitching run inside a single
``mapInPandas`` pass (Arrow-batched).  At the 100 TB design point this is
the plan of choice: throughput scales linearly with executors because
there is no exchange at all between the columnar scan and the event rows.

``stitch='window'`` — the north-rule **window-based line grouping**
(replaces the reference's recursive descent, Parser.scala:117-145),
written as SQL text over ``core``'s classifier patterns:
``posexplode`` the lines, classify them with ``RLIKE`` predicates,
**drop web filler before the shuffle** (the shuffle then carries only GC
candidate lines — a small fraction of the corpus), assign
``event_seq = sum(is_start) over (partition by url order by line_no)``,
re-assemble blocks with a hash aggregate that *reuses the window's
hash(url) partitioning* (no second exchange), and parse the stitched
blocks in ``mapInPandas``.  Use this when a single log is too large for
one task or when logs arrive pre-split in line-oriented chunks.

One UDF loop (``_parse_pages_fn``) parses blocks for both stitches; they
differ only in where a row's blocks come from (``core.split_blocks_pos``
over a whole log, or the one block the window stitched).  Both plans
keep all heavy lifting either in WholeStageCodegen (classify, group,
re-assemble) or in Arrow-vectorized Python (block parse); there is no
row-at-a-time Python UDF anywhere (BASELINE.json input_hint).
"""

from __future__ import annotations

from datetime import datetime
from itertools import repeat

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

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
# the parse UDF (both stitches)
# ---------------------------------------------------------------------------

def _parse_pages_fn(heap_stats: bool, counters=None):
    """The ``mapInPandas`` body of both stitches.  A narrow batch holds
    whole logs (``gc_text``), split here by ``core.split_blocks_pos``; a
    window batch holds one stitched ``block`` per row with its
    ``line_no``.  ``counters``: optional (events, skipped_blocks)
    SparkContext accumulators — the north rule's per-partition metrics;
    near-zero overhead (one add per partition)."""

    def fn(iterator):
        n_events = n_skipped = 0
        for pdf in iterator:
            out = _Columns()
            if "block" in pdf.columns:
                blocks = (
                    ((line_no, block),)
                    for line_no, block in zip(
                        pdf["line_no"].tolist(), pdf["block"].tolist()
                    )
                )
            else:
                blocks = map(
                    core.split_blocks_pos,
                    pdf["gc_text"].tolist(),
                    repeat(heap_stats),
                )
            for url, wts, row_blocks in zip(
                pdf["url"].tolist(), pdf["warc_ts"].tolist(), blocks
            ):
                idx = 0
                for line_no, block in row_blocks:
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


def _parse_blocks(src: DataFrame, heap_stats: bool, counters) -> DataFrame:
    """The narrow stitch whole; the window stitch's parse step."""
    return _restore_timestamps(
        src.mapInPandas(_parse_pages_fn(heap_stats, counters), _UDF_SCHEMA)
    )


# ---------------------------------------------------------------------------
# window path: SQL text over core's classifier patterns
# ---------------------------------------------------------------------------

# ``core.classify_line`` as SQL predicates over ``line`` (pinned against
# it on every fixture line in tests/test_spark_parse.py).  core's
# patterns are valid Java regex as written; RLIKE ignores
# UNIFIED_START_RE's capture groups.  The three start shapes are ONE
# alternation: each RLIKE is a full regex pass over the line.
_START = "line RLIKE r'{}'".format("|".join(
    f"(?:{r.pattern})"
    for r in (core.GC_START_RE, core.APPSTOP_START_RE, core.UNIFIED_START_RE)
))
_CONT = f"line RLIKE r'{core.CONTINUATION_RE.pattern}'"

#: heap_stats → (start, cont, open, close).  In heap-stats mode region
#: lines are space-prefixed, and the bare 'Heap after ...' header must
#: survive the pre-shuffle filter too.  The open flag is
#: HEAP_BLOCK_OPEN_RE as a prefix test, which spares every filler line
#: one more regex pass.  The close flag strips what Python's
#: ``str.rstrip()`` strips (Spark's ``rtrim`` strips only spaces, so
#: ``'}\r'`` on a CRLF log would never close its block): Java's
#: Unicode ``\s`` plus the four separators U+001C..U+001F.
_LINE_FLAGS = {
    False: (_START, _CONT, "false", "false"),
    True: (
        _START,
        f"{_CONT} OR startswith(line, ' ')"
        f" OR line RLIKE r'{core.HEAP_HDR_RE.pattern}'",
        "startswith(line, '{Heap before')",
        r"line RLIKE r'(?U)^\}[\s\x1c-\x1f]*$'",
    ),
}

_LINES = "posexplode(split(gc_text, '\\n')) AS (line_no, line)"


def _over(end: str) -> str:
    return (
        "OVER (PARTITION BY url ORDER BY line_no"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND {end})"
    )


# Brace depth before the line; in heap-stats mode a block starts at an
# open or start line outside any brace block.
_DEPTH = (
    f"coalesce(sum(opens) {_over('1 PRECEDING')}, 0)"
    f" - coalesce(sum(closes) {_over('1 PRECEDING')}, 0)"
)
_SEQ = "sum(CAST({} AS INT)) " + _over("CURRENT ROW") + " AS event_seq"
_EVENT_SEQ = {
    False: _SEQ.format("is_start"),
    True: _SEQ.format(f"(opens = 1 OR is_start) AND {_DEPTH} = 0"),
}

_BLOCK = (
    "array_join(transform(array_sort(collect_list(struct(line_no, line))),"
    " s -> s.line), '\\n') AS block"
)

# Gap-free per-url event index (the events side is tiny vs the lines).
_REINDEX = [
    "row_number() OVER (PARTITION BY url ORDER BY line_no) - 1 AS event_idx"
    if c == "event_idx" else c
    for c in _COLUMNS
]


def _parse_window(src: DataFrame, heap_stats: bool, counters) -> DataFrame:
    start, cont, opens, closes = _LINE_FLAGS[heap_stats]
    # Filler is dropped map-side, before the line stream's one shuffle.
    # The executed plan evaluates the filter's RLIKEs on every line, then
    # the projection's start alternation again on the surviving lines
    # (GC candidates, a small fraction of the lines).  Flags projected
    # first and filtered on would plan the same: Catalyst pushes such a
    # filter below the projection.
    lines = (
        src.selectExpr("url", "warc_ts", _LINES)
        .where(f"{start} OR {cont} OR {opens} OR {closes}")
        .selectExpr(
            "url", "warc_ts", "line_no", "line",
            f"{start} AS is_start",
            f"CAST({opens} AS INT) AS opens",
            f"CAST({closes} AS INT) AS closes",
        )
        .selectExpr("url", "warc_ts", "line_no", "line", _EVENT_SEQ[heap_stats])
        .where("event_seq > 0")
    )
    # The hash aggregate's clustering on (url, event_seq) is satisfied by
    # the window's hash(url) exchange, so re-assembly does NOT shuffle.
    blocks = lines.groupBy("url", "warc_ts", "event_seq").agg(
        F.expr("min(line_no) AS line_no"), F.expr(_BLOCK)
    ).drop("event_seq")
    return _parse_blocks(blocks, heap_stats, counters).selectExpr(*_REINDEX)


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
        parse = _parse_blocks
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
