"""End-to-end Spark tests: deterministic pages → parse (both stitch
strategies) → events, checked against the pure-Python core parser and the
reference-pinned per-fixture event counts (FIXTURES.md §3)."""

from datetime import datetime

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark import core
from gclog_parser_spark.datagen import (
    pages_from_documents,
    synth_pages,
)
from gclog_parser_spark.fixtures import all_classes, fixture_text
from gclog_parser_spark.operators.parse import extract_gc_text, parse_events
from gclog_parser_spark.schema import PAGES_SCHEMA


@pytest.fixture(scope="module")
def pages(spark):
    # each url names its fixture class: https://logs.example/<class>/<n>
    return synth_pages(spark, 40, parallelism=4).withColumn(
        "gclog_class", F.split("url", "/")[3]
    ).cache()


def test_extracted_text_byte_identical(spark, pages):
    """The per-row invariant (BASELINE.json input_hint): extracted text
    equals the embedded fixture bytes exactly."""
    rows = extract_gc_text(pages).join(
        pages.select(F.col("url"), "gclog_class"), "url"
    ).collect()
    assert len(rows) == 40
    for r in rows:
        assert r["gc_text"] == fixture_text(r["gclog_class"]), r["url"]


@pytest.mark.parametrize("stitch", ["narrow", "window"])
def test_gcline_counts_per_class(spark, pages, stitch):
    events = parse_events(pages, mode="gc_line", stitch=stitch)
    got = {
        r["gclog_class"]: r["n"]
        for r in events.join(
            pages.select("url", "gclog_class"), "url"
        )
        .groupBy("gclog_class")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    expected = {}
    for _, name, _, n_line, _ in all_classes():
        expected[name] = expected.get(name, 0) + n_line * 4  # 40 pages / 10
    assert got == expected


@pytest.mark.parametrize("stitch", ["narrow", "window"])
def test_heap_stats_counts_per_class(spark, pages, stitch):
    events = parse_events(pages, mode="heap_stats", stitch=stitch)
    got = {
        r["gclog_class"]: r["n"]
        for r in events.join(pages.select("url", "gclog_class"), "url")
        .groupBy("gclog_class")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    expected = {
        name: n_heap * 4 for _, name, _, _, n_heap in all_classes() if n_heap
    }
    assert got == expected


def test_narrow_equals_window(spark, pages):
    """Both physical strategies must produce identical logical results,
    also on a log with CRLF line ends: the heap_stats window stitch must
    close a ``'}\\r'`` brace block as the narrow one does."""
    crlf = spark.createDataFrame(
        [(
            "crlf://heap8/0", datetime(2016, 11, 10, 4), None,
            fixture_text("heap8").replace("\n", "\r\n"), "en",
        )],
        PAGES_SCHEMA,
    )
    cases = [(pages, mode, True, None) for mode in ("gc_line", "heap_stats")]
    cases.append((crlf, "heap_stats", False, 7))
    for src, mode, require_marker, n_events in cases:
        a = parse_events(
            src, mode=mode, stitch="narrow", require_marker=require_marker
        )
        b = parse_events(
            src, mode=mode, stitch="window", require_marker=require_marker
        )
        cols = [c for c in a.columns]
        sa = sorted(map(repr, a.select(cols).collect()))
        sb = sorted(map(repr, b.select(cols).collect()))
        assert sa == sb, f"mode={mode}"
        if n_events is not None:
            assert len(sa) == n_events


def test_events_match_core_parser(spark, pages):
    """Spark events equal the pure-Python core parse of the same fixture,
    field for field, for one url of every class."""
    sample = {
        r["gclog_class"]: r["url"]
        for r in pages.select("url", "gclog_class").collect()
    }
    events = (
        parse_events(pages, mode="gc_line", stitch="narrow")
        .where(F.col("url").isin(list(sample.values())))
        .collect()
    )
    by_url = {}
    for r in events:
        by_url.setdefault(r["url"], []).append(r)
    for cls, url in sample.items():
        expect = core.parse_log(fixture_text(cls))
        got = sorted(by_url.get(url, []), key=lambda r: r["event_idx"])
        assert len(got) == len(expect), cls
        for g, e in zip(got, expect):
            assert g["gc_type"] == e["gc_type"]
            assert g["jvm_age_seconds"] == e["age"]
            assert g["pause_seconds"] == e["pause"]
            assert g["gc_cause"] == e["gc_cause"]
            if e["heap"]:
                assert g["heap_before_bytes"] == core.to_bytes(e["heap"][0])
                assert g["heap_reclaimed_bytes"] == core.reclaimed_bytes(
                    e["heap"]
                )
            assert len(g["generations"] or []) == len(e["generations"])
            assert g["tz_offset"] == core.tz_offset_str(e["time"])


@pytest.mark.parametrize("heap_stats", [False, True])
def test_window_line_flags_match_core_classifier(spark, heap_stats):
    """The window stitch classifies lines with SQL RLIKE predicates over
    core's regex patterns; on every line of every fixture log, and on
    each again with a trailing ``'\\r'`` (CRLF logs), its flags must
    give the class ``core.classify_line`` gives (checked in core's
    order: open, close, start, cont)."""
    from gclog_parser_spark import fixtures
    from gclog_parser_spark.operators.parse import _LINE_FLAGS

    texts = [t for _, _, t, _, _ in all_classes()] + [
        v for k, v in sorted(vars(fixtures).items())
        if k.endswith("_LOG") and isinstance(v, str)
    ]
    lines = sorted(
        {ln + end for t in texts for ln in t.split("\n") for end in ("", "\r")}
    )
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    flags = zip(("start", "cont", "open", "close"), _LINE_FLAGS[heap_stats])
    got = {
        r["line"]: next(
            (c for c in ("open", "close", "start", "cont") if r[c]),
            "filler",
        )
        for r in df.selectExpr("line", *[f"({e}) AS {c}" for c, e in flags])
        .collect()
    }
    want = {ln: core.classify_line(ln, heap_stats) for ln in lines}
    assert got == want
    assert {"start", "cont", "filler"} <= set(want.values())


def test_pages_from_documents(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    assert pages.columns == PAGES_SCHEMA.fieldNames()
    n = pages.count()
    assert n == 500  # sf0.001 documents rows
    # every class present 50×
    counts = dict(
        pages.groupBy(F.split("url", "/")[3]).count().collect()
    )
    assert all(v == 50 for v in counts.values()) and len(counts) == 10
    # hot-hour skew by construction
    hours = dict(
        pages.groupBy(F.hour("warc_ts").alias("h")).count().collect()
    )
    assert hours[4] > n * 0.6
