"""Reference-CLI parity for the export mode of jobs/gclog_pipeline.py
(Main.scala:35-73): --format/--delimiter/--prefix/--limit/--heap-stats
and stdin input produce byte-identical output to the driver-side
reference-golden formatters."""

from __future__ import annotations

import subprocess
import sys

import pytest

from gclog_parser_spark.core import (
    calculate_rates,
    parse_log,
    parse_with_heap_stats,
)
from gclog_parser_spark.fixtures import fixture_text
from gclog_parser_spark.functions.export import graphite_lines, tsv_lines


def _run_cli(extra_args, stdin_text=None):
    res = subprocess.run(
        [
            sys.executable,
            "jobs/gclog_pipeline.py",
            "--master",
            "local[4]",
        ]
        + extra_args,
        capture_output=True,
        text=True,
        input=stdin_text,
        cwd="/root/repo",
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return res.stdout


@pytest.mark.slow
def test_cli_tsv_stdout_matches_reference(tmp_path):
    name = "details7"
    log = tmp_path / f"{name}.log"
    log.write_text(fixture_text(name))
    evs = parse_log(fixture_text(name))
    rates = calculate_rates(evs)
    want = [line.replace("\t", "|") for line in tsv_lines(evs, rates)]

    out = _run_cli(
        [
            "--input", str(log),
            "--input-format", "rawlogs",
            "--format", "tsv",
            "--delimiter", "|",
        ]
    )
    assert out.splitlines() == want


@pytest.mark.slow
def test_cli_graphite_limit_and_stdin(tmp_path):
    """One JVM spin-up covers three reference flags: stdin input,
    --prefix, and --limit (events truncated AFTER rates, Main.scala:28)."""
    name = "details8"
    text = fixture_text(name)
    evs = parse_log(text)
    rates = calculate_rates(evs)
    want = [
        "jvm." + line.removeprefix("gc.")
        for line in graphite_lines(evs[:2], rates[:2])
    ]

    out = _run_cli(
        [
            "--input", "-",
            "--format", "graphite",
            "--prefix", "jvm",
            "--limit", "2",
        ],
        stdin_text=text,
    )
    assert out.splitlines() == want


@pytest.mark.slow
def test_cli_heap_stats_flag(tmp_path):
    name = "fragment"
    log = tmp_path / f"{name}.log"
    log.write_text(fixture_text(name))
    evs = parse_with_heap_stats(fixture_text(name))
    rates = calculate_rates(evs)
    want = tsv_lines(evs, rates)

    out = _run_cli(
        [
            "--input", str(log),
            "--input-format", "rawlogs",
            "--format", "tsv",
            "--heap-stats",
        ]
    )
    assert out.splitlines() == want
