"""Spark schemas for the pipeline (SURVEY.md §1, FIXTURES.md §§1,4).

The reference exports a *dynamic* per-event column set
(BasicGCEvent.scala:20-45); our events table is the fixed nullable
superset, with generation deltas and region deltas as ordered arrays of
structs (golden output order follows log order, ParserTest.scala:264-269).
The dynamic-column shape is reproduced only in the export layer
(functions/export.py).
"""

from __future__ import annotations

import pyspark.sql.types as T

# Input: Common-Crawl-style pages table (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

GENERATION_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("before_bytes", T.LongType(), False),
        T.StructField("after_bytes", T.LongType(), False),
        T.StructField("capacity_bytes", T.LongType(), False),
    ]
)

# Region deltas keep the RAW strings — sub-space 'used' can be a percent
# ('99%', SuffixExpander.scala:7 hack) and byte-identical re-emission needs
# the original token (DetailedGCEvent.scala:40).
REGION_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("used_before", T.StringType(), False),
        T.StructField("used_after", T.StringType(), False),
        T.StructField("capacity_before", T.StringType(), False),
        T.StructField("capacity_after", T.StringType(), False),
    ]
)

# Fixed superset event schema (FIXTURES.md §4).  event_time is stored
# UTC-normalized; tz_offset carries the log's original offset so the export
# layer can render 'yyyy-MM-dd HH:mm:ss.SSS' byte-identically
# (GCEvent.scala:18, Parser.scala:8 withOffsetParsed).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("event_idx", T.IntegerType(), False),
        T.StructField("line_no", T.IntegerType(), False),
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("tz_offset", T.StringType(), True),
        T.StructField("jvm_age_seconds", T.DoubleType(), False),
        T.StructField("gc_class", T.StringType(), False),
        T.StructField("gc_type", T.StringType(), False),
        T.StructField("gc_cause", T.StringType(), True),
        T.StructField("heap_before_bytes", T.LongType(), True),
        T.StructField("heap_after_bytes", T.LongType(), True),
        T.StructField("heap_max_bytes", T.LongType(), True),
        T.StructField("heap_reclaimed_bytes", T.LongType(), True),
        T.StructField("pause_seconds", T.DoubleType(), True),
        T.StructField("generations", T.ArrayType(GENERATION_TYPE), True),
        T.StructField("regions", T.ArrayType(REGION_TYPE), True),
        T.StructField("promoted_bytes", T.LongType(), True),
        T.StructField("desired_survivor_size", T.LongType(), True),
        T.StructField("new_threshold", T.IntegerType(), True),
        T.StructField("stopped_seconds", T.DoubleType(), True),
        T.StructField("seconds_to_stop", T.DoubleType(), True),
    ]
)

# Broadcast-join enrichment dims (FIXTURES.md §2).
COLLECTOR_FAMILY_ROWS = [
    ("GC", "parallel_minor"),
    ("GC--", "promotion_failure"),
    ("Full GC", "full"),
    ("ParNew", "parnew"),
    ("DefNew", "serial_minor"),
    ("AppStopped", "app_stopped"),
    ("CMS-concurrent-mark-start", "cms_concurrent"),
    ("CMS-concurrent-mark", "cms_concurrent"),
    ("CMS-concurrent-preclean-start", "cms_concurrent"),
    ("CMS-concurrent-preclean", "cms_concurrent"),
    ("CMS-concurrent-abortable-preclean-start", "cms_concurrent"),
    ("CMS-concurrent-abortable-preclean", "cms_concurrent"),
    ("CMS-concurrent-sweep-start", "cms_concurrent"),
    ("CMS-concurrent-sweep", "cms_concurrent"),
    ("CMS-concurrent-reset-start", "cms_concurrent"),
    ("CMS-concurrent-reset", "cms_concurrent"),
]

HEAP_REGION_ROWS = [
    ("PSYoungGen", "young"),
    ("ParOldGen", "old"),
    ("par new generation", "young"),
    ("concurrent mark-sweep generation", "old"),
    ("PSPermGen", "perm"),
    ("Metaspace", "meta"),
    ("class space", "meta"),
    ("eden", "survivor_space"),
    ("from", "survivor_space"),
    ("to", "survivor_space"),
]


def _inline_table(spark, rows, columns: str):
    """``rows`` as a literal ``VALUES`` table, like the oracle's dims: a
    ``LocalTableScan`` broadcasts rows already in JVM memory, where a
    ``createDataFrame(list)`` RDD is unpickled in a job of its own."""
    from gclog_parser_spark.oracle import _q

    values = ", ".join("(" + ", ".join(map(_q, r)) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({columns})")


def collector_family_df(spark):
    return _inline_table(spark, COLLECTOR_FAMILY_ROWS, "gc_type, family")


def heap_region_df(spark):
    return _inline_table(spark, HEAP_REGION_ROWS, "region_name, kind")
