"""Grok template compilation and guarded typed extraction."""

from __future__ import annotations

import pytest

from gclog_parser_spark.functions.grok import (
    grok_compile,
    grok_parse,
)


def test_compile_fields_types_and_escaping():
    regex, fields = grok_compile(
        "%{INT:a:int} (x) %{WORD} %{NUMBER:b:float}%{GREEDYDATA:c}"
    )
    assert fields == [("a", "bigint"), ("b", "double"), ("c", "string")]
    # literal parens escaped; unnamed WORD is non-capturing
    assert r"\(x\)" in regex
    assert "(?:\\w+)" in regex
    import re

    m = re.fullmatch(regex, "-42 (x) hello 3.14 tail here")
    assert m and m.group(1) == "-42" and m.group(2) == "3.14"
    assert m.group(3) == " tail here"


def test_compile_rejects_unknown_pattern():
    with pytest.raises(ValueError, match="unknown grok"):
        grok_compile("%{NOPE:x}")


def test_parse_types_and_unmatched(spark):
    df = spark.createDataFrame(
        [
            ("7 INFO [2024-01-02 03:04:05] done",),
            ("garbage line",),
        ],
        "line string",
    )
    pat = "%{INT:n:int} %{LOGLEVEL:lvl} [%{TIMESTAMP_ISO8601:t:ts}] %{WORD:msg}"
    kept = grok_parse(df, "line", pat).collect()
    assert len(kept) == 1
    r = kept[0]
    assert (r.n, r.lvl, r.msg) == (7, "INFO", "done")
    assert r.t.isoformat() == "2024-01-02T03:04:05"


def test_parse_requires_named_field(spark):
    df = spark.createDataFrame([("x",)], "line string")
    with pytest.raises(ValueError, match="no named fields"):
        grok_parse(df, "line", "%{WORD} %{INT}")


def test_parse_is_pure_codegen(spark):
    df = spark.createDataFrame([("1 ok",)], "line string")
    plan = (
        grok_parse(df, "line", "%{INT:n:int} %{WORD:w}")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
