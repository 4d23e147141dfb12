"""Broadcast-join enrichment (north rule: 'lookup enrich').

The reference has no joins (SURVEY.md §2.5); the north rule adds two
lookup dims (FIXTURES.md §2).  Both are tiny → ``F.broadcast`` keeps the
100 TB fact side shuffle-free through this stage.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gclog_parser_spark import core
from gclog_parser_spark.schema import collector_family_df, heap_region_df


# The dim's family, else: CMS phases not in the dim fall back to
# 'cms_concurrent' by prefix, the newer collectors go by their type
# names, and everything else is 'other'.
_FAMILY = """coalesce(family, CASE
    WHEN startswith(gc_type, 'CMS') THEN 'cms_concurrent'
    WHEN (startswith(gc_type, 'GC pause') AND contains(gc_type, '(mixed)'))
      OR (startswith(gc_type, 'Pause Young')
          AND contains(gc_type, '(Mixed)')) THEN 'g1_mixed'
    WHEN startswith(gc_type, 'GC pause')
      OR startswith(gc_type, 'Pause Young') THEN 'g1_young'
    WHEN startswith(gc_type, 'Pause Full') THEN 'full'
    WHEN gc_type IN ('Garbage Collection', 'Minor Collection',
                     'Major Collection') THEN 'z_cycle'
    WHEN startswith(gc_type, 'Pause Init')
      OR startswith(gc_type, 'Pause Final')
      OR startswith(gc_type, 'Pause Degenerated') THEN 'shen_pause'
    WHEN startswith(gc_type, 'GC concurrent')
      OR startswith(gc_type, 'Concurrent')
      OR gc_type IN ('GC remark', 'GC cleanup', 'Pause Remark',
                     'Pause Cleanup') THEN 'g1_concurrent'
    ELSE 'other' END) AS family"""


def enrich_collector_family(events: DataFrame) -> DataFrame:
    """events broadcast-left-joined to the collector-family dim on
    gc_type, with ``family`` resolved by ``_FAMILY``."""
    dim = collector_family_df(events.sparkSession)
    return events.join(F.broadcast(dim), "gc_type", "left").selectExpr(
        "* EXCEPT (family)", _FAMILY
    )


def unified_region_deltas(pages: DataFrame) -> DataFrame:
    """JDK 9+ unified-logging heap-region transitions
    (``-Xlog:gc+heap=info`` — core.parse_unified_heap_line): one row per
    ``[gc,heap]`` line, the unified twin of the legacy
    ``{Heap before/after}`` block mode (gc_region_deltas shape).

    Plan: posexplode lines → codegen rlike filter + regexp_extract
    projections (no Python anywhere) → ONE exchange on (url, block_idx)
    for the in-block region order.  At 100 TB the filter prunes to the
    tiny [gc,heap] subset before the only shuffle, so shuffle volume is
    ∝ region lines, never ∝ page text."""
    from pyspark.sql import Window

    lines = pages.select(
        "url",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    pat = core.UNIFIED_HEAP_LINE_RE.pattern  # valid Java regex as written
    m = lines.where(F.col("line").rlike(pat)).select(
        "url",
        "line_no",
        F.regexp_extract("line", pat, 1)
        .cast("int")
        .alias("block_idx"),
        F.regexp_extract("line", pat, 2).alias("region_name"),
        F.regexp_extract("line", pat, 3)
        .cast("int")
        .alias("regions_before"),
        F.regexp_extract("line", pat, 4)
        .cast("int")
        .alias("regions_after"),
        F.when(
            F.regexp_extract("line", pat, 5) != "",
            F.regexp_extract("line", pat, 5).cast("int"),
        ).alias("target_regions"),
    )
    w = Window.partitionBy("url", "block_idx").orderBy("line_no")
    return m.select(
        "url",
        "block_idx",
        (F.row_number().over(w) - 1).cast("int").alias("region_pos"),
        "region_name",
        "regions_before",
        "regions_after",
        "target_regions",
    )


_SAFEPOINT_LINE = (
    r'\[safepoint\] Safepoint "([A-Za-z0-9_]+)",'
    r" Time since last: (\d+) ns,"
    r" Reaching safepoint: (\d+) ns,"
    r"( Cleanup: (\d+) ns,)?"
    r" At safepoint: (\d+) ns,"
    r" Total: (\d+) ns\s*$"
)


def _safepoint_lines(pages: DataFrame) -> DataFrame:
    """Matched+typed ``[safepoint]`` line relation (pre-ordering):
    posexplode lines → codegen rlike filter + regexp_extract
    projections, no Python and no exchange."""
    lines = pages.select(
        "url",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    return lines.where(F.col("line").rlike(_SAFEPOINT_LINE)).select(
        "url",
        "line_no",
        F.regexp_extract("line", _SAFEPOINT_LINE, 1).alias("sp_op"),
        F.regexp_extract("line", _SAFEPOINT_LINE, 2)
        .cast("long")
        .alias("since_last_ns"),
        F.regexp_extract("line", _SAFEPOINT_LINE, 3)
        .cast("long")
        .alias("reaching_ns"),
        F.when(
            F.regexp_extract("line", _SAFEPOINT_LINE, 5) != "",
            F.regexp_extract("line", _SAFEPOINT_LINE, 5).cast("long"),
        ).alias("cleanup_ns"),
        F.regexp_extract("line", _SAFEPOINT_LINE, 6)
        .cast("long")
        .alias("at_safepoint_ns"),
        F.regexp_extract("line", _SAFEPOINT_LINE, 7)
        .cast("long")
        .alias("total_ns"),
    )


def parse_safepoints(pages: DataFrame) -> DataFrame:
    """JDK 13+ unified-logging ``[safepoint]`` lines
    (``-Xlog:safepoint``) — one row per VM operation with exact
    nanosecond integers: time since last safepoint, time-to-safepoint
    (reaching), optional JDK 16+ cleanup, at-safepoint, and total.
    The per-operation superset of the legacy aggregate
    ``Total time for which application threads were stopped``
    (reference Parser.scala TotalAppStoppedTime, P13).

    Plan: the matched-line relation (zero exchanges) plus ONE exchange
    on url for the in-log safepoint order.  At 100 TB the rlike filter
    prunes to the tiny [safepoint] subset before the only shuffle."""
    from pyspark.sql import Window

    m = _safepoint_lines(pages)
    w = Window.partitionBy("url").orderBy("line_no")
    return m.select(
        "url",
        (F.row_number().over(w) - 1).cast("int").alias("sp_idx"),
        "sp_op",
        "since_last_ns",
        "reaching_ns",
        "cleanup_ns",
        "at_safepoint_ns",
        "total_ns",
    )


def safepoint_stats(pages: DataFrame) -> DataFrame:
    """Per-VM-operation safepoint rollup over :func:`parse_safepoints`:
    count, total stopped (at-safepoint) ns, worst time-to-safepoint
    (the TTSP tail a latency investigation chases), and total wall ns
    including reaching+cleanup — all exact BIGINT sums/maxes, so the
    cross-engine hash is trivially stable.  Aggregates the pre-window
    matched relation (sp_idx ordering is irrelevant to a rollup), so
    the plan is scan → partial agg → ONE exchange on sp_op — map-side
    partials collapse the per-op rows before the shuffle."""
    sp = _safepoint_lines(pages)
    return sp.groupBy("sp_op").agg(
        F.count("*").cast("long").alias("n_safepoints"),
        F.sum("at_safepoint_ns").alias("stopped_ns"),
        F.max("reaching_ns").alias("max_ttsp_ns"),
        F.sum(F.coalesce("cleanup_ns", F.lit(0))).alias("cleanup_ns"),
        F.sum("total_ns").alias("wall_ns"),
    )


_LEGACY_CPU = (
    r"\[Times: user=(\d+\.\d+) sys=(\d+\.\d+), real=(\d+\.\d+) secs\]"
)
_UNIFIED_CPU = (
    r"\[gc,cpu\] GC\((\d+)\)"
    r" User=(\d+\.\d+)s Sys=(\d+\.\d+)s Real=(\d+\.\d+)s\s*$"
)


def _cs(col):
    """Exact centisecond ticks from a 'S.CC' seconds string: the
    decimal cast is exact at 2 dp in both engines (no IEEE parse)."""
    return (col.cast("decimal(12,2)") * 100).cast("long")


def cpu_times(pages: DataFrame) -> DataFrame:
    """GC CPU-time accounting per marked log in ``text``: extract the
    ``[Times: user=U sys=S, real=R secs]`` trailers (legacy, present on
    most JDK 7/8 lines — the reference grammar reads only ``real=`` as
    the CMS pause, Parser.scala:48; user/sys are dropped there) and the
    JDK 9+ ``[gc,cpu] GC(n) User= Sys= Real=`` unified twin, as exact
    centisecond BIGINTs.

    Returns one row per url: line count, summed user/sys/real ticks,
    and the GC parallelism ratio floor((user+sys)*1000/real) — the
    'are my GC threads actually parallel' signal an ops investigation
    reads first.  Plan: marker-pruned scan → posexplode → codegen
    rlike/regexp_extract → partial agg → ONE url exchange; shuffle
    volume ∝ urls, never ∝ page text."""
    from gclog_parser_spark.operators.parse import extract_gc_text

    gc = extract_gc_text(pages)
    lines = gc.select(
        "url",
        F.posexplode(F.split("gc_text", "\n")).alias("line_no", "line"),
    )
    line = F.col("line")
    is_uni = line.rlike(_UNIFIED_CPU)
    m = lines.where(line.rlike(_LEGACY_CPU) | is_uni).select(
        "url",
        F.when(is_uni, F.lit("unified")).otherwise("legacy")
        .alias("source"),
        _cs(
            F.when(is_uni, F.regexp_extract(line, _UNIFIED_CPU, 2))
            .otherwise(F.regexp_extract(line, _LEGACY_CPU, 1))
        ).alias("user_cs"),
        _cs(
            F.when(is_uni, F.regexp_extract(line, _UNIFIED_CPU, 3))
            .otherwise(F.regexp_extract(line, _LEGACY_CPU, 2))
        ).alias("sys_cs"),
        _cs(
            F.when(is_uni, F.regexp_extract(line, _UNIFIED_CPU, 4))
            .otherwise(F.regexp_extract(line, _LEGACY_CPU, 3))
        ).alias("real_cs"),
    )
    agg = m.groupBy("url", "source").agg(
        F.count("*").cast("long").alias("n_cpu_lines"),
        F.sum("user_cs").alias("user_cs"),
        F.sum("sys_cs").alias("sys_cs"),
        F.sum("real_cs").alias("real_cs"),
    )
    return agg.select(
        "url",
        "source",
        "n_cpu_lines",
        "user_cs",
        "sys_cs",
        "real_cs",
        F.when(
            F.col("real_cs") > 0,
            F.expr("div((user_cs + sys_cs) * 1000, real_cs)"),
        ).alias("parallelism_millis"),
    )


def explode_region_deltas(events: DataFrame) -> DataFrame:
    """Unnest the region deltas of detailed events and enrich each with
    its region kind (young/old/perm/meta/survivor_space) via broadcast
    join.  Returns one row per (event, region)."""
    spark = events.sparkSession
    dim = heap_region_df(spark)
    regions = events.where(F.size("regions") > 0).select(
        "url",
        "warc_ts",
        "event_idx",
        "gc_type",
        F.posexplode("regions").alias("region_pos", "region"),
    )
    flat = regions.select(
        "url",
        "warc_ts",
        "event_idx",
        "gc_type",
        "region_pos",
        F.col("region.name").alias("region_name"),
        F.col("region.used_before").alias("used_before"),
        F.col("region.used_after").alias("used_after"),
        F.col("region.capacity_before").alias("capacity_before"),
        F.col("region.capacity_after").alias("capacity_after"),
    )
    return flat.join(F.broadcast(dim), "region_name", "left").withColumn(
        "kind", F.coalesce("kind", F.lit("other"))
    )


_STALL_LINE = (
    r"\[gc\] (Allocation|Relocation) Stall"
    r" \(([^)]+)\) (\d+\.\d{3})ms\s*$"
)


def parse_gc_stalls(pages: DataFrame) -> DataFrame:
    """ZGC allocation/relocation stall lines (-Xlog:gc, single-gen and
    JDK 21+ generational alike): ``(Allocation|Relocation) Stall
    (<thread>) <ms>ms`` — emitted per stalled mutator thread when
    allocation outruns the collector, the first latency signal a ZGC
    tuning investigation reads.  SUPERSET: the reference grammar
    (Parser.scala) predates ZGC entirely; charter is the north rule's
    unified-shapes clause.

    One row per stall with the duration as exact microsecond BIGINT
    ticks (the 3-dp ms string is cast through DECIMAL(12,3), never
    IEEE-parsed, so the DuckDB oracle matches bit-for-bit).  Plan:
    scan → posexplode → codegen rlike/regexp_extract, ZERO exchanges
    — at 100 TB the rlike prunes to the tiny stall subset scan-side.
    Truncated stall lines (no duration) fail the anchor and drop."""
    lines = pages.select(
        "url",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    line = F.col("line")
    return lines.where(line.rlike(_STALL_LINE)).select(
        "url",
        "line_no",
        F.lower(F.regexp_extract(line, _STALL_LINE, 1)).alias(
            "stall_kind"
        ),
        F.regexp_extract(line, _STALL_LINE, 2).alias("thread"),
        (
            F.regexp_extract(line, _STALL_LINE, 3).cast("decimal(12,3)")
            * 1000
        ).cast("long").alias("stall_us"),
    )


def gc_stall_stats(pages: DataFrame) -> DataFrame:
    """Per-(url, stall kind) rollup over :func:`parse_gc_stalls`:
    stall count, distinct stalled threads, total and worst stall
    microseconds — all exact BIGINT sums/maxes, trivially
    hash-stable cross-engine.  Plan: the zero-exchange matched
    relation → partial agg → ONE exchange on (url, stall_kind);
    map-side partials collapse per-stall rows before the shuffle
    (count-distinct over thread adds the usual two-phase expand,
    still keyed by the same group — no extra wide exchange)."""
    st = parse_gc_stalls(pages)
    return st.groupBy("url", "stall_kind").agg(
        F.count("*").cast("long").alias("n_stalls"),
        F.countDistinct("thread").alias("n_threads"),
        F.sum("stall_us").alias("stalled_us"),
        F.max("stall_us").alias("max_stall_us"),
    )


_EVAC_LEGACY = (
    r"(\d+\.\d+): \[GC pause \([^)]*\)"
    r" \((?:young|mixed)\) \(to-space exhausted\)"
)
_EVAC_UNIFIED = (
    r"\[(\d+\.\d+)s\]\[info\]\[gc\]"
    r" GC\((\d+)\) To-space exhausted\s*$"
)


def g1_evac_failures(pages: DataFrame) -> DataFrame:
    """G1 evacuation failures ("to-space exhausted") in BOTH log
    dialects — the heap-exhaustion signal that precedes G1 Full GCs
    and the first thing a G1 sizing investigation greps for.  Legacy
    Java 8 puts the tag inline in the pause line; unified (JDK 9+)
    logs a separate ``GC(n) To-space exhausted`` line.  SUPERSET:
    the reference grammar (Parser.scala) has no G1 at all; charter is
    the north rule's G1-phases clause.

    One row per failure: dialect, the unified GC id (NULL for
    legacy), and the JVM age as exact truncated-ms BIGINT ticks.
    Plan: scan → posexplode → codegen rlike/regexp_extract, ZERO
    exchanges — the rlike prunes to the failure subset scan-side.
    Truncated tags (no id / no pause body) fail the anchors and
    drop."""
    lines = pages.select(
        "url",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    line = F.col("line")
    is_uni = line.rlike(_EVAC_UNIFIED)
    return lines.where(line.rlike(_EVAC_LEGACY) | is_uni).select(
        "url",
        "line_no",
        F.when(is_uni, F.lit("unified")).otherwise("legacy")
        .alias("source"),
        F.when(
            is_uni, F.regexp_extract(line, _EVAC_UNIFIED, 2).cast("int")
        ).alias("gc_id"),
        (
            F.when(is_uni, F.regexp_extract(line, _EVAC_UNIFIED, 1))
            .otherwise(F.regexp_extract(line, _EVAC_LEGACY, 1))
            .cast("double")
            * 1000
        ).cast("long").alias("age_ms"),
    )


_HUM_LEGACY = (
    r"(\d+\.\d+): \[GC pause \(G1 Humongous Allocation\)"
    r" \((?:young|mixed)\)"
)
_HUM_UNIFIED = (
    r"\[(\d+\.\d+)s\]\[info\]\[gc\] GC\((\d+)\) Pause Young"
    r" \([^)]+\) \(G1 Humongous Allocation\)"
)
_HUM_REGIONS = (
    r"\[(\d+\.\d+)s\]\[info\]\[gc,heap\] GC\((\d+)\)"
    r" Humongous regions: (\d+)->(\d+)\s*$"
)
_HUM_REGION_SIZE = (
    r"\[\d+\.\d+s\]\[info\]\[gc,init\]"
    r" Heap [Rr]egion [Ss]ize: (\d+)M\s*$"
)


def g1_humongous(pages: DataFrame) -> DataFrame:
    """G1 humongous-allocation activity, BOTH log dialects — the G1
    fragmentation runbook signal, sibling of :func:`g1_evac_failures`
    (round-4 verdict ask #4).  Objects ≥ half a region allocate as
    contiguous humongous regions; their churn surfaces as

    * ``(G1 Humongous Allocation)`` pause causes — legacy Java 8
      inline (``kind='alloc_pause'``, ``source='legacy'``) and
      unified JDK 9+ ``GC(n) Pause Young (...) (G1 Humongous
      Allocation)`` (``source='unified'``, with the GC id),
    * unified per-GC accounting ``GC(n) Humongous regions: X->Y``
      (``kind='regions'`` with before/after counts), and
    * the unified ``gc,init`` ``Heap Region Size: <n>M`` line
      (``kind='region_size'``) that converts region counts to bytes.

    SUPERSET: the reference grammar (Parser.scala) has no G1 at all;
    charter is the north rule's G1-phases clause.

    One typed row per matched line; ages are exact truncated-ms BIGINT
    ticks (cast-then-scale, mirroring ``g1_evac_failures``).  Plan:
    scan → posexplode → codegen rlike/regexp_extract, ZERO exchanges —
    the rlike prunes to the tiny humongous subset scan-side.
    Truncated tags (no region counts / no pause body) fail the
    anchors and drop."""
    lines = pages.select(
        "url",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    line = F.col("line")
    is_uni = line.rlike(_HUM_UNIFIED)
    is_reg = line.rlike(_HUM_REGIONS)
    is_sz = line.rlike(_HUM_REGION_SIZE)
    return lines.where(
        line.rlike(_HUM_LEGACY) | is_uni | is_reg | is_sz
    ).select(
        "url",
        "line_no",
        F.when(is_reg | is_sz | is_uni, F.lit("unified"))
        .otherwise("legacy").alias("source"),
        F.when(is_reg, F.lit("regions"))
        .when(is_sz, F.lit("region_size"))
        .otherwise("alloc_pause").alias("kind"),
        F.when(
            is_reg, F.regexp_extract(line, _HUM_REGIONS, 2).cast("int")
        ).when(
            is_uni, F.regexp_extract(line, _HUM_UNIFIED, 2).cast("int")
        ).alias("gc_id"),
        F.when(is_sz, F.lit(None).cast("long")).otherwise(
            (
                F.when(is_reg, F.regexp_extract(line, _HUM_REGIONS, 1))
                .when(is_uni, F.regexp_extract(line, _HUM_UNIFIED, 1))
                .otherwise(F.regexp_extract(line, _HUM_LEGACY, 1))
                .cast("double")
                * 1000
            ).cast("long")
        ).alias("age_ms"),
        F.when(
            is_reg, F.regexp_extract(line, _HUM_REGIONS, 3).cast("int")
        ).alias("regions_before"),
        F.when(
            is_reg, F.regexp_extract(line, _HUM_REGIONS, 4).cast("int")
        ).alias("regions_after"),
        F.when(
            is_sz,
            F.regexp_extract(line, _HUM_REGION_SIZE, 1).cast("int"),
        ).alias("region_mb"),
    )


def g1_humongous_stats(pages: DataFrame) -> DataFrame:
    """Per-JVM humongous rollup over :func:`g1_humongous` — the
    counts/bytes view the fragmentation runbook reads: humongous-cause
    pause count, region-accounting line count, peak humongous region
    count, regions reclaimed (positive X→Y drops only — growth lines
    add new allocation, not reclamation), and the reclaimed BYTES when
    the log carries its ``Heap Region Size`` line (NULL otherwise —
    never a guessed region size).

    All sums/maxes are exact BIGINT.  Plan: the zero-exchange matched
    relation → partial agg → ONE url exchange; the per-url region size
    is a ``max`` over the same group (one gc,init line per JVM), so no
    second exchange or join."""
    ev = g1_humongous(pages)
    reclaimed = F.greatest(
        F.col("regions_before") - F.col("regions_after"), F.lit(0)
    )
    return ev.groupBy("url").agg(
        F.sum(
            F.when(F.col("kind") == "alloc_pause", 1).otherwise(0)
        ).cast("long").alias("n_alloc_pauses"),
        F.sum(
            F.when(F.col("kind") == "regions", 1).otherwise(0)
        ).cast("long").alias("n_region_lines"),
        F.max("regions_before").alias("peak_regions"),
        F.sum(
            F.when(F.col("kind") == "regions", reclaimed)
        ).cast("long").alias("regions_reclaimed"),
        # one gc,init line per JVM; NULL on every other row, so max
        # picks it up inside the SAME aggregate — no second exchange
        F.max("region_mb").alias("region_mb"),
    ).select(
        "url", "n_alloc_pauses", "n_region_lines", "peak_regions",
        "regions_reclaimed",
        (
            F.col("regions_reclaimed").cast("long")
            * F.col("region_mb") * 1048576
        ).alias("reclaimed_bytes"),
    )


#: ZGC cycle COMPLETION line (has the heap transition; start lines
#: don't): single-gen ("Garbage Collection") and JDK 21+ generational
#: ("Major/Minor Collection") dialects, duration optional.
_CYCLE_DONE = (
    r"\[gc\] GC\((\d+)\) (Major|Minor|Garbage) Collection"
    r" \(([^)]+)\) (\S+)->(\S+)(?: (\d+\.\d{3})s)?\s*$"
)


def stall_rootcause(pages: DataFrame) -> DataFrame:
    """Root-cause attribution for ZGC allocation/relocation stalls: each
    stall line is as-of joined (strictly preceding, same log) to the
    nearest COMPLETED GC cycle — the question an on-call actually asks
    ("which collection failed to keep up?"), one step past
    :func:`parse_gc_stalls` (the raw rows) and
    :func:`gc_stall_stats` (the rollup).  Stalls before any completed
    cycle keep NULL cause columns — early-startup stalls are a
    different pathology (heap not yet sized) and must stay visible.

    The as-of key is the LOG POSITION, not the uptime stamp: ZGC
    interleaves concurrent-phase lines with wall-clock jitter, but the
    log itself is append-ordered per JVM, so ``line_no`` is the
    tie-safe ordering (same rule as the reference's incremental
    stitching).  Cycle duration rides along as exact DECIMAL-cast
    microsecond ticks.

    Plan: one scan → posexplode → codegen regexps, then ONE url
    exchange shared by the ``last(ignoreNulls)`` window — the same
    carry-forward shape as ``rates.RateCalculator``; no join, no
    second shuffle.  At 100 TB the stall/cycle rlike prunes scan-side
    and the window state is one struct per partition.
    """
    from pyspark.sql import Window

    lines = pages.select(
        "url",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )
    line = F.col("line")
    cyc = F.when(
        line.rlike(_CYCLE_DONE),
        F.struct(
            F.regexp_extract(line, _CYCLE_DONE, 1)
            .cast("long")
            .alias("gc_id"),
            F.regexp_extract(line, _CYCLE_DONE, 2).alias("cycle_kind"),
            F.regexp_extract(line, _CYCLE_DONE, 3).alias("gc_cause"),
            F.col("line_no").alias("cycle_line_no"),
            (
                F.nullif(
                    F.regexp_extract(line, _CYCLE_DONE, 6), F.lit("")
                ).cast("decimal(12,3)")
                * 1000000
            ).cast("long").alias("cycle_us"),
        ),
    )
    w = (
        Window.partitionBy("url")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = lines.withColumn("rc", F.last(cyc, ignorenulls=True).over(w))
    return tagged.where(line.rlike(_STALL_LINE)).select(
        "url",
        "line_no",
        F.lower(F.regexp_extract(line, _STALL_LINE, 1)).alias("stall_kind"),
        F.regexp_extract(line, _STALL_LINE, 2).alias("thread"),
        (
            F.regexp_extract(line, _STALL_LINE, 3).cast("decimal(12,3)")
            * 1000
        ).cast("long").alias("stall_us"),
        F.col("rc.gc_id").alias("gc_id"),
        F.col("rc.cycle_kind").alias("cycle_kind"),
        F.col("rc.gc_cause").alias("gc_cause"),
        F.col("rc.cycle_line_no").alias("cycle_line_no"),
        (F.col("line_no") - F.col("rc.cycle_line_no")).alias("lines_since"),
        F.col("rc.cycle_us").alias("cycle_us"),
    )
