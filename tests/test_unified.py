"""JDK 9+ unified-logging (-Xlog:gc) support (SUPERSET — the reference
predates unified logging)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.core import parse_log
from gclog_parser_spark.fixtures import UNIFIED_LOG
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.route import with_sink
from gclog_parser_spark.sources.pages import read_gc_logs


@pytest.fixture(scope="module")
def uni_events():
    return parse_log(UNIFIED_LOG)


def test_unified_counts_and_fields(uni_events):
    # 9 events: the [gc,start]/[gc,heap]/[gc,metaspace]/[gc,cpu] JDK 17
    # metadata lines are NOT events (only the [gc] summary is)
    assert len(uni_events) == 9
    first = uni_events[0]
    assert first["gc_type"] == "Pause Young (Normal)"
    assert first["gc_cause"] == "G1 Evacuation Pause"
    assert first["heap"] == ("24M", "4M", "256M")
    assert first["pause"] == 0.003523
    assert first["age"] == 0.231
    # optional ISO decoration parsed with offset preserved
    assert first["time"].isoformat() == "2026-08-17T01:02:03.456000+00:00"


def test_unified_phase_events(uni_events):
    cycle = uni_events[1]
    assert cycle["gc_class"] == "g1"
    assert cycle["gc_type"] == "Concurrent Mark Cycle"
    assert cycle["pause"] == 0.0
    mark = uni_events[2]
    assert mark["pause"] == 0.00123


def test_unified_full_gc_cause(uni_events):
    full = uni_events[6]
    assert full["gc_type"] == "Pause Full"
    assert full["gc_cause"] == "System.gc()"
    assert full["gc_class"] == "basic"
    assert full["pause"] == 0.102521


def test_unified_jdk17_variants(uni_events):
    """JDK 17 shapes: Prepare Mixed / Concurrent Start tags fold into
    the type; the surrounding [gc,start]/[gc,heap]/[gc,metaspace]/
    [gc,cpu] metadata lines yield no events."""
    prep = uni_events[7]
    assert prep["gc_type"] == "Pause Young (Prepare Mixed)"
    assert prep["gc_cause"] == "G1 Evacuation Pause"
    assert prep["heap"] == ("98M", "23M", "256M")
    assert prep["pause"] == 0.0031
    conc = uni_events[8]
    assert conc["gc_type"] == "Pause Young (Concurrent Start)"
    assert conc["gc_cause"] == "Metadata GC Threshold"


def test_unified_spark_both_stitch_strategies(spark, tmp_path):
    p = tmp_path / "uni.log"
    # interleave web-filler junk: must vanish silently
    lines = UNIFIED_LOG.split("\n")
    noisy = "\n".join(
        sum([[l, "some web page filler text"] for l in lines], [])
    )
    p.write_text(noisy)
    pages = read_gc_logs(spark, str(p))
    narrow = parse_events(pages, require_marker=False)
    window = parse_events(pages, stitch="window", require_marker=False)
    assert narrow.count() == 9
    cols = ["event_idx", "gc_class", "gc_type", "jvm_age_seconds",
            "heap_before_bytes", "pause_seconds"]
    assert sorted(map(tuple, narrow.select(*cols).collect())) == sorted(
        map(tuple, window.select(*cols).collect())
    )
    fams = {
        r["sink"]: r["n"]
        for r in with_sink(narrow)
        .groupBy("sink")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert fams == {
        "g1_young": 3,  # Normal + Prepare Mixed + Concurrent Start
        "g1_mixed": 1,
        "full": 1,
        "g1_concurrent": 4,
    }


# --- unified heap-region transitions (gc+heap=info) ------------------------


def test_parse_unified_heap_line():
    from gclog_parser_spark.core import parse_unified_heap_line

    assert parse_unified_heap_line(
        "[0.302s][info][gc,heap] GC(0) Eden regions: 24->0(153)"
    ) == (0, "Eden", 24, 0, 153)
    assert parse_unified_heap_line(
        "[2.450s][info][gc,heap] GC(2) Old regions: 80->41"
    ) == (2, "Old", 80, 41, None)
    # summary / metaspace / legacy lines are not region lines
    assert parse_unified_heap_line(
        "[0.303s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation"
        " Pause) 98M->23M(256M) 3.100ms"
    ) is None
    assert parse_unified_heap_line(
        "[0.302s][info][gc,metaspace] GC(0) Metaspace:"
        " 21995K->21995K(1069056K)"
    ) is None


def test_unified_region_deltas_counts_and_values(spark):
    """Pinned fixture counts: GC(0)=4 regions, GC(1)=5 (Archive),
    GC(2)=4 — 13 rows; values match core.parse_unified_heap_line."""
    from datetime import datetime

    from gclog_parser_spark.fixtures import UNIFIED_HEAP_LOG
    from gclog_parser_spark.operators.enrich import unified_region_deltas
    from gclog_parser_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("u0", datetime(2026, 8, 17), None, UNIFIED_HEAP_LOG, "en")],
        PAGES_SCHEMA,
    )
    rows = unified_region_deltas(pages).collect()
    assert len(rows) == 13
    by_block = {}
    for r in rows:
        by_block.setdefault(r["block_idx"], []).append(r)
    assert {k: len(v) for k, v in by_block.items()} == {0: 4, 1: 5, 2: 4}
    first = sorted(by_block[0], key=lambda r: r["region_pos"])[0]
    assert (
        first["region_name"],
        first["regions_before"],
        first["regions_after"],
        first["target_regions"],
    ) == ("Eden", 24, 0, 153)
    old = [r for r in by_block[2] if r["region_name"] == "Old"][0]
    assert (old["regions_before"], old["regions_after"]) == (80, 41)
    assert old["target_regions"] is None
    # in-block order follows log order
    for b, rs in by_block.items():
        poss = sorted(r["region_pos"] for r in rs)
        assert poss == list(range(len(rs)))


def test_unified_region_deltas_match_core_on_every_fixture_line(spark):
    """unified_region_deltas runs core.UNIFIED_HEAP_LINE_RE's pattern
    as a Java regex: over every fixture log, the rows it extracts are
    exactly the lines core.parse_unified_heap_line accepts, with the
    same fields."""
    from datetime import datetime

    from gclog_parser_spark import fixtures
    from gclog_parser_spark.core import parse_unified_heap_line
    from gclog_parser_spark.operators.enrich import unified_region_deltas
    from gclog_parser_spark.schema import PAGES_SCHEMA

    logs = [(name, t) for _, name, t, _, _ in fixtures.all_classes()] + [
        (k, v) for k, v in sorted(vars(fixtures).items())
        if k.endswith("_LOG") and isinstance(v, str)
    ]
    pages = spark.createDataFrame(
        [(u, datetime(2026, 8, 17), None, t, "en") for u, t in logs],
        PAGES_SCHEMA,
    )
    got = sorted(
        (r["url"], r["block_idx"], r["region_name"], r["regions_before"],
         r["regions_after"], r["target_regions"])
        for r in unified_region_deltas(pages).collect()
    )
    want = sorted(
        (u, *m)
        for u, t in logs
        for ln in t.split("\n")
        if (m := parse_unified_heap_line(ln)) is not None
    )
    assert got == want
    assert len({u for u, *_ in want}) >= 2


def test_unified_region_plan_no_python(spark):
    """The region path is pure codegen: no Python eval anywhere, and
    exactly one exchange (the in-block order window)."""
    from datetime import datetime

    from gclog_parser_spark.fixtures import UNIFIED_HEAP_LOG
    from gclog_parser_spark.operators.enrich import unified_region_deltas
    from gclog_parser_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("u0", datetime(2026, 8, 17), None, UNIFIED_HEAP_LOG, "en")],
        PAGES_SCHEMA,
    )
    plan = (
        unified_region_deltas(pages)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_safepoint_parse_counts(spark):
    """SAFEPOINT_LOG: 9 well-formed [safepoint] lines (one truncated
    line and two [gc] lines must be dropped), 6 distinct VM ops,
    cleanup_ns present only on the three JDK 16+ shaped lines."""
    from datetime import datetime

    from gclog_parser_spark.fixtures import SAFEPOINT_LOG
    from gclog_parser_spark.operators.enrich import (
        parse_safepoints,
        safepoint_stats,
    )
    from gclog_parser_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("sp://t/0", datetime(2026, 8, 17, 5, 0), None,
          SAFEPOINT_LOG, "en")],
        PAGES_SCHEMA,
    )
    sp = parse_safepoints(pages).collect()
    assert len(sp) == 8
    assert [r["sp_idx"] for r in sp] == list(range(8))
    assert sum(r["cleanup_ns"] is not None for r in sp) == 3
    first = sp[0]
    assert first["sp_op"] == "G1CollectForAllocation"
    assert first["reaching_ns"] == 234567
    assert first["at_safepoint_ns"] == 3456789
    assert first["total_ns"] == 3691356

    stats = {r["sp_op"]: r for r in safepoint_stats(pages).collect()}
    assert len(stats) == 6
    g1 = stats["G1CollectForAllocation"]
    assert g1["n_safepoints"] == 2
    assert g1["stopped_ns"] == 3456789 + 2987654
    assert g1["max_ttsp_ns"] == 234567
    assert g1["cleanup_ns"] == 23456
    td = stats["ThreadDump"]
    assert td["n_safepoints"] == 2 and td["cleanup_ns"] == 0


def test_cpu_times_both_sources(spark):
    """cpu_times: legacy [Times:] and unified [gc,cpu] lines in one
    page, exact centisecond ticks, truncating parallelism ratio, NULL
    ratio when real==0."""
    from datetime import datetime

    from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
    from gclog_parser_spark.operators.enrich import cpu_times
    from gclog_parser_spark.schema import PAGES_SCHEMA

    text = "\n".join([
        "filler words",
        OPEN_MARK,
        "2015-05-26T16:23:07.321-0200: 64.425: [GC ...] "
        "[Times: user=0.47 sys=0.01, real=0.19 secs]",
        "noise line",
        "[Times: user=0.00 sys=0.00, real=0.00 secs]",
        "[2.503s][info][gc,cpu] GC(4) User=0.01s Sys=0.00s Real=0.00s",
        "[3.000s][info][gc,cpu] GC(5) User=0.06s Sys=0.02s Real=0.03s",
        CLOSE_MARK,
        "filler",
    ])
    pages = spark.createDataFrame(
        [("cpu://t/0", datetime(2026, 8, 17, 6, 0), None, text, "en")],
        PAGES_SCHEMA,
    )
    rows = {r["source"]: r for r in cpu_times(pages).collect()}
    leg = rows["legacy"]
    assert leg["n_cpu_lines"] == 2
    assert (leg["user_cs"], leg["sys_cs"], leg["real_cs"]) == (47, 1, 19)
    # (47+1)*1000 div 19 = 2526 (floor)
    assert leg["parallelism_millis"] == 2526
    uni = rows["unified"]
    assert uni["n_cpu_lines"] == 2
    assert (uni["user_cs"], uni["sys_cs"], uni["real_cs"]) == (7, 2, 3)
    assert uni["parallelism_millis"] == 3000

    # real == 0 everywhere -> NULL ratio, not a crash
    zero = "\n".join([
        OPEN_MARK,
        "[Times: user=0.00 sys=0.00, real=0.00 secs]",
        CLOSE_MARK,
    ])
    zp = spark.createDataFrame(
        [("cpu://t/1", datetime(2026, 8, 17, 6, 0), None, zero, "en")],
        PAGES_SCHEMA,
    )
    z = cpu_times(zp).collect()
    assert len(z) == 1 and z[0]["parallelism_millis"] is None


def test_zgc_stall_parse_counts(spark):
    """ZGC_STALL_LOG: 7 well-formed stall lines (one truncated stall
    and five collection lines must be dropped); exact microsecond
    ticks; per-kind rollup sums/maxes pinned."""
    from datetime import datetime

    from gclog_parser_spark.fixtures import ZGC_STALL_LOG
    from gclog_parser_spark.operators.enrich import (
        gc_stall_stats,
        parse_gc_stalls,
    )
    from gclog_parser_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("zstall://t/0", datetime(2026, 8, 17, 6, 0), None,
          ZGC_STALL_LOG, "en")],
        PAGES_SCHEMA,
    )
    st = parse_gc_stalls(pages).collect()
    assert len(st) == 7
    kinds = {r["stall_kind"] for r in st}
    assert kinds == {"allocation", "relocation"}
    first = sorted(st, key=lambda r: r["line_no"])[0]
    assert first["thread"] == "main"
    assert first["stall_us"] == 12040  # 12.040ms, DECIMAL-exact
    assert {r["thread"] for r in st} == {
        "main", "HttpWorker-3", "HttpWorker-7", "queue-worker-1"
    }

    stats = {r["stall_kind"]: r for r in gc_stall_stats(pages).collect()}
    alloc = stats["allocation"]
    assert alloc["n_stalls"] == 5
    assert alloc["n_threads"] == 3
    assert alloc["stalled_us"] == 12040 + 3512 + 25001 + 1250 + 33
    assert alloc["max_stall_us"] == 25001
    rel = stats["relocation"]
    assert rel["n_stalls"] == 2 and rel["n_threads"] == 2
    assert rel["stalled_us"] == 204 + 7777
    assert rel["max_stall_us"] == 7777


def test_zgc_stall_plan_zero_exchange(spark):
    """parse_gc_stalls is scan->posexplode->codegen filter/project:
    no exchange, no Python."""
    from datetime import datetime

    from gclog_parser_spark.fixtures import ZGC_STALL_LOG
    from gclog_parser_spark.operators.enrich import parse_gc_stalls
    from gclog_parser_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("zstall://t/0", datetime(2026, 8, 17, 6, 0), None,
          ZGC_STALL_LOG, "en")],
        PAGES_SCHEMA,
    )
    from gclog_parser_spark.plans.lint import plan_string

    plan = plan_string(parse_gc_stalls(pages))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_g1_evac_failures_both_dialects(spark):
    """G1_EVAC_LOG: 2 legacy inline tags + 2 unified standalone lines
    (5 normal pauses and a truncated 'To-space' line dropped); pinned
    ids/ages."""
    from datetime import datetime

    from gclog_parser_spark.fixtures import G1_EVAC_LOG
    from gclog_parser_spark.operators.enrich import g1_evac_failures
    from gclog_parser_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(
        [("g1evac://t/0", datetime(2026, 8, 17, 7, 0), None,
          G1_EVAC_LOG, "en")],
        PAGES_SCHEMA,
    )
    got = sorted(
        g1_evac_failures(pages).collect(), key=lambda r: r["line_no"]
    )
    assert len(got) == 4
    assert [r["source"] for r in got] == [
        "legacy", "legacy", "unified", "unified"
    ]
    assert [r["gc_id"] for r in got] == [None, None, 7, 9]
    assert got[0]["age_ms"] == 66222
    assert got[2]["age_ms"] == 1250
    assert got[3]["age_ms"] == 3475
