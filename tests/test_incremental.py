"""Incremental tri-state consumption (Parser.scala:134-151; trace
behavior mirrored from ParserTest.scala:323-363): drive line-by-line
like the reference's streaming caller and assert the skip / accumulate /
emit replies and that the emitted events equal whole-log parsing."""

from __future__ import annotations

from gclog_parser_spark.core import (
    GC_EVENT_PARSED,
    NEED_ANOTHER_LINE,
    SKIP_LINE,
    incremental_parse,
    parse_log,
)
from gclog_parser_spark.fixtures import fixture_text


def drive(text: str):
    """Reference caller loop: accumulate lines; on parsed → emit+reset,
    on skip → drop the first buffered line and retry the remainder."""
    events, statuses, buf = [], [], []
    for line in text.split("\n"):
        buf.append(line)
        while buf:
            status, ev = incremental_parse(buf)
            statuses.append(status)
            if status == GC_EVENT_PARSED:
                events.append(ev)
                buf = []
            elif status == SKIP_LINE:
                buf = buf[1:]
            else:
                break
    # flush: drop head lines until nothing parses (EOF behavior)
    while buf:
        status, ev = incremental_parse(buf)
        if status == GC_EVENT_PARSED:
            events.append(ev)
            buf = []
        else:
            buf = buf[1:]
    return events, statuses


def test_single_line_event_immediate():
    line = "0.263: [GC 65536K->57253K(506816K), 0.0499922 secs]"
    status, ev = incremental_parse([line])
    assert status == GC_EVENT_PARSED
    assert ev["pause"] == 0.0499922


def test_banner_line_skipped():
    status, ev = incremental_parse(
        ["Java HotSpot(TM) 64-Bit Server VM (25.66-b17)"]
    )
    assert status == SKIP_LINE


def test_multiline_accumulates_then_emits():
    lines = [
        "2015-12-04T16:07:12.422+1100: 6994.482: [GC (Allocation Failure) "
        "6994.482: [ParNew",
        "Desired survivor size 41943040 bytes, new threshold 6 (max 6)",
        "- age   1:    4550112 bytes,    4550112 total",
        ": 670935K->9957K(737280K), 0.0165734 secs] "
        "670935K->9957K(2015232K), 0.0167094 secs] "
        "[Times: user=0.06 sys=0.00, real=0.02 secs]",
    ]
    for i in range(1, len(lines)):
        status, _ = incremental_parse(lines[:i])
        assert status == NEED_ANOTHER_LINE, i
    status, ev = incremental_parse(lines)
    assert status == GC_EVENT_PARSED
    assert ev["gc_type"] == "GC"
    assert ev["tenuring"] == ("41943040", "6")


def test_drive_matches_whole_log_parse():
    for name in ("basic7", "basic8", "details8", "cmsfull", "waits"):
        text = fixture_text(name)
        events, _ = drive(text)
        assert events == parse_log(text), name
