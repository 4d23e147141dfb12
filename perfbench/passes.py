"""What one benchmark pass runs, and how its output is checked.

A pass of the read workloads scans the pages parquet, runs the narrow
pipeline (``plans.pipeline.build_events``: parse → rates → enrich/route)
and collects per-(sink, hour) aggregates that also consume the rate
columns, so the rates window cannot be pruned from the plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from gclog_parser_spark.operators.parse import extract_gc_text
from gclog_parser_spark.plans.pipeline import build_events
from gclog_parser_spark.sources.pages import read_pages

#: operators the read pass must execute (rates window, enrich broadcast
#: join, Arrow-batched parse); a plan without them measures less work
REQUIRED_NODES = ("Window", "BroadcastHashJoin", "MapInPandas")


def pages_frame(spark, pages_dir: str):
    return read_pages(spark, pages_dir, columns=["url", "warc_ts", "text"])


def hourly(events):
    return events.groupBy(
        "sink", F.unix_seconds(F.date_trunc("hour", "warc_ts")).alias("hour")
    ).agg(
        F.count("*").alias("events"),
        F.sum("heap_reclaimed_bytes").alias("heap_reclaimed_sum"),
        F.sum("heap_allocation_rate").alias("allocation_rate_sum"),
        F.sum("promotion_rate").alias("promotion_rate_sum"),
    )


def read_pass(spark, pages_dir: str):
    """The pass's result DataFrame (lazy)."""
    return hourly(build_events(pages_frame(spark, pages_dir)))


def group_errors(rows, expected_groups: dict) -> list:
    """Differences between collected (sink, hour) rows and expectations."""
    got = {
        f"{r['sink']}|{r['hour']}": [r["events"], r["heap_reclaimed_sum"]]
        for r in rows
    }
    errors = []
    for key in sorted(set(got) | set(expected_groups)):
        if got.get(key) != expected_groups.get(key):
            errors.append(
                f"{key}: got {got.get(key)} want {expected_groups.get(key)}"
            )
    return errors


def extract_digest(spark, pages_dir: str):
    """(rows, sum of CRC32(url + '\\n' + extracted text)) of the extract
    layer's output."""
    ex = extract_gc_text(pages_frame(spark, pages_dir))
    crc = F.crc32(F.encode(F.concat("url", F.lit("\n"), "gc_text"), "UTF-8"))
    r = ex.agg(F.count("*").alias("n"), F.sum(crc).alias("crc")).first()
    return r["n"], r["crc"] or 0


def check_pass(spark, pages_dir: str, rows, expected: dict) -> list:
    """Every check of one pass; an empty list means the pass is correct."""
    errors = group_errors(rows, expected["groups"])
    n, crc = extract_digest(spark, pages_dir)
    if (n, crc) != (expected["log_pages"], expected["extract_crc_sum"]):
        errors.append(
            f"extract digest: got ({n}, {crc}) want "
            f"({expected['log_pages']}, {expected['extract_crc_sum']})"
        )
    return errors
