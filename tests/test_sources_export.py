"""Raw-log sources (S1/S2) + distributed export formats (S3-S6).

The parity bar: the Spark path (raw files → read_gc_logs →
parse_events → with_rates → tsv/graphite_export) must produce the SAME
BYTES as the driver-side reference-golden path (core.parse_log →
calculate_rates → functions.export.tsv_lines/graphite_lines), which the
core golden tests already pin against the reference's ScalaTest output
(ParserTest.scala, OutputFormatTest.scala:14-28).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.core import (
    calculate_rates,
    parse_log,
    parse_with_heap_stats,
)
from gclog_parser_spark.fixtures import CLASSES, fixture_text
from gclog_parser_spark.functions.export import (
    graphite_lines,
    to_seq_pairs,
    tsv_lines,
)
from gclog_parser_spark.functions.export import row_export_pairs
from gclog_parser_spark.operators.export import (
    graphite_export,
    tsv_export,
)
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.sources.pages import (
    read_gc_logs,
    read_pages,
    union_pages,
)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawlogs")
    for _, name, *_ in CLASSES:
        (d / f"{name}.log").write_text(fixture_text(name))
    return d


def test_read_gc_logs_counts(spark, log_dir):
    """Multi-file raw-log scan == reference Main multi-file loop
    (Main.scala:16-31): per-file event counts pinned by ParserTest."""
    pages = read_gc_logs(spark, str(log_dir))
    events = parse_events(pages, require_marker=False)
    got = {
        r["url"].rsplit("/", 1)[-1]: r["n"]
        for r in events.groupBy("url").agg(F.count("*").alias("n")).collect()
    }
    expected = {f"{name}.log": n for _, name, _, n, _ in CLASSES}
    assert got == expected


def test_read_gc_logs_heap_mode(spark, log_dir):
    pages = read_gc_logs(
        spark, [str(log_dir / "heap7.log"), str(log_dir / "waits.log")]
    )
    events = parse_events(pages, mode="heap_stats", require_marker=False)
    assert events.count() == 7 + 16


def test_union_pages(spark, log_dir):
    a = read_gc_logs(spark, str(log_dir / "basic7.log"))
    b = read_gc_logs(spark, str(log_dir / "basic8.log"))
    u = union_pages(a, b)
    assert parse_events(u, require_marker=False).count() == 14


def test_read_pages_roundtrip_pruned(spark, sf_dir, tmp_path):
    """Pages parquet roundtrip; the pruned read never touches ``html``
    (ReadSchema carries only the 3 parse columns)."""
    from gclog_parser_spark.datagen import pages_from_documents

    path = str(tmp_path / "pages")
    pages_from_documents(spark, sf_dir).write.parquet(path)
    df = read_pages(spark, path, columns=["url", "warc_ts", "text"])
    assert df.columns == ["url", "warc_ts", "text"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.count() == n_docs


def test_row_export_pairs_matches_driver_side(spark, log_dir):
    """Spark-schema reconstruction == driver-side toSeq for every fixture
    event, byte for byte, including rates."""
    for _, name, *_ in CLASSES:
        text = fixture_text(name)
        evs = parse_log(text)
        rates = calculate_rates(evs)
        want = [
            to_seq_pairs(ev, rates[i]) for i, ev in enumerate(evs)
        ]

        pages = read_gc_logs(spark, str(log_dir / f"{name}.log"))
        rows = (
            with_rates(parse_events(pages, require_marker=False))
            .orderBy("event_idx")
            .collect()
        )
        got = [row_export_pairs(r.asDict(recursive=True)) for r in rows]
        assert got == want, name


def test_tsv_export_matches_reference_format(spark, log_dir):
    name = "details7"
    evs = parse_log(fixture_text(name))
    rates = calculate_rates(evs)
    want = tsv_lines(evs, rates)

    pages = read_gc_logs(spark, str(log_dir / f"{name}.log"))
    out = tsv_export(with_rates(parse_events(pages, require_marker=False)))
    got = [r["line"] for r in out.orderBy("line_no").collect()]
    assert got == want


def test_graphite_export_matches_reference_format(spark, log_dir):
    name = "details8"
    evs = parse_log(fixture_text(name))
    rates = calculate_rates(evs)
    want = graphite_lines(evs, rates)

    pages = read_gc_logs(spark, str(log_dir / f"{name}.log"))
    events = with_rates(parse_events(pages, require_marker=False))
    out = graphite_export(events.where(F.col("event_time").isNotNull()))
    got = [r["line"] for r in out.orderBy("line_no").collect()]
    assert got == want


def test_tsv_export_heap_stats_mode(spark, log_dir):
    """Detailed (heap-block) events format through the same Spark path;
    parity vs parse_with_heap_stats + toSeq (ParserTest.scala:261-309)."""
    name = "fragment"
    evs = parse_with_heap_stats(fixture_text(name))
    rates = calculate_rates(evs)
    want = tsv_lines(evs, rates)

    pages = read_gc_logs(spark, str(log_dir / f"{name}.log"))
    events = with_rates(
        parse_events(pages, mode="heap_stats", require_marker=False)
    )
    got = [
        r["line"] for r in tsv_export(events).orderBy("line_no").collect()
    ]
    assert got == want


def test_write_lines_both_branches(spark, log_dir, tmp_path):
    """Both sink branches produce the same bytes: the single-file test
    path and the per-log partitioned scale path (which must drop
    ``line_no`` — the text datasource takes exactly one data column)."""
    from gclog_parser_spark.operators.export import write_lines

    pages = read_gc_logs(
        spark, [str(log_dir / "basic7.log"), str(log_dir / "basic8.log")]
    )
    lines = tsv_export(
        with_rates(parse_events(pages, require_marker=False))
    )
    want = [
        (r["url"], r["line"])
        for r in lines.orderBy("url", "line_no").collect()
    ]

    single = str(tmp_path / "single")
    write_lines(lines, single)
    got_single = [
        r["value"] for r in spark.read.text(single).collect()
    ]
    assert got_single == [line for _, line in want]

    per_log = str(tmp_path / "per_log")
    write_lines(lines, per_log, per_log=True)
    back = spark.read.text(per_log, pathGlobFilter="*.txt")
    # partition dir carries the url; read it back as a column
    back = spark.read.format("text").option(
        "basePath", per_log
    ).load(f"{per_log}/url=*")
    got_per_log = sorted(
        (r["url"], r["value"]) for r in back.collect()
    )
    assert sorted(got_per_log) == sorted(want)
    # per-url line ORDER also survives (file rows are in line_no order)
    for url in {u for u, _ in want}:
        assert [l for u, l in got_per_log if u == url] != []


def test_raw_logs_window_stitch_matches_narrow(spark, log_dir):
    """A raw log too big for one task is the window-stitch use case;
    both strategies must agree on raw files too (no markers)."""
    pages = read_gc_logs(spark, str(log_dir))
    narrow = parse_events(pages, require_marker=False)
    window = parse_events(pages, stitch="window", require_marker=False)
    cols = ["url", "event_idx", "gc_class", "gc_type", "jvm_age_seconds"]
    a = sorted(map(tuple, narrow.select(*cols).collect()))
    b = sorted(map(tuple, window.select(*cols).collect()))
    assert a == b
    assert len(a) == sum(c[3] for c in CLASSES)
