"""gclog-parser-spark: a PySpark-native GC-log analytics engine.

Public API (the reference's library surface — Parser.scala:119-145,
JavaParser.java:7-11 — re-expressed as DataFrame transformations, plus
the pipeline/streaming/training-data operators this engine adds):

    from gclog_parser_spark import (
        parse_events, with_rates, with_sink, per_sink_hourly,
        read_pages, read_gc_logs, tsv_export, graphite_export,
        build_events, run_checkpointed,
    )

Everything consumes/produces DataFrames; heavy lifting runs in
WholeStageCodegen or Arrow-batched pandas — no per-row Python anywhere.
"""

from gclog_parser_spark import _zipstamp  # noqa: F401  (installs its rule)
from gclog_parser_spark.core import (  # noqa: F401
    parse_log,
    parse_with_heap_stats,
)
from gclog_parser_spark.operators.aggregate import (  # noqa: F401
    events_per_collector,
    per_sink_hourly,
    per_sink_hourly_salted,
)
from gclog_parser_spark.operators.enrich import (  # noqa: F401
    enrich_collector_family,
    explode_region_deltas,
)
from gclog_parser_spark.operators.export import (  # noqa: F401
    graphite_export,
    tsv_export,
)
from gclog_parser_spark.operators.limit import limit_per_log  # noqa: F401
from gclog_parser_spark.operators.parse import parse_events  # noqa: F401
from gclog_parser_spark.operators.rates import with_rates  # noqa: F401
from gclog_parser_spark.operators.route import (  # noqa: F401
    fanout_write,
    with_sink,
)
from gclog_parser_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
    neardup_pairs,
    neardup_pairs_multiband,
)
from gclog_parser_spark.plans.ledger import run_checkpointed  # noqa: F401
from gclog_parser_spark.plans.pipeline import (  # noqa: F401
    PipelineMetrics,
    build_events,
)
from gclog_parser_spark.session import get_spark  # noqa: F401
from gclog_parser_spark.sources.pages import (  # noqa: F401
    read_gc_logs,
    read_pages,
    union_pages,
)
from gclog_parser_spark.sources.sinks import write_socket  # noqa: F401
from gclog_parser_spark.streaming.stream import (  # noqa: F401
    parse_stream,
    run_fanout_stream,
    stream_pages,
)
from gclog_parser_spark.operators.route import (  # noqa: F401
    fanout_commit_catalog,
    streaming_fanout_sink,
)
from gclog_parser_spark.sources.catalog import (  # noqa: F401
    IncrementalConsumer,
    create_tag,
    equality_delete,
    expire_snapshots,
    incremental_read,
    read_snapshot,
    read_tag,
    rewrite_compact,
    scan_with_pruning,
    snapshot_write,
    table_files,
    table_history,
)
