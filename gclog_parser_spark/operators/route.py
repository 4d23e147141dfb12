"""Routing + fan-out sinks (north rule: 'route to per-sink tables';
reference sinks at output/OutputSink.scala:11-36, SURVEY.md §2.1 S3-S4).

Routing key = the broadcast-joined collector family.  The fan-out write
is a single partitioned append — one pass over the events, one
subdirectory (≅ per-sink Iceberg table) per sink.  On a real cluster
swap ``format='parquet'`` for an Iceberg catalog table; the sandbox image
has no Iceberg runtime jar, so the layout (hive-style ``sink=...``
partitions, atomic per-job commit via the output committer) stands in
for Iceberg's atomic append (documented in SURVEY.md §7.7).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gclog_parser_spark.operators.enrich import enrich_collector_family


def with_sink(events: DataFrame) -> DataFrame:
    """Adds the routing column ``sink`` (= collector family), and the
    ``family`` enrichment itself first when absent."""
    if "family" not in events.columns:
        events = enrich_collector_family(events)
    return events.withColumn("sink", F.col("family"))


def fanout_write(
    events: DataFrame,
    base_path: str,
    fmt: str = "parquet",
) -> None:
    """One-pass fan-out: dynamic partition write on the routing key,
    appended under ``base_path``.

    The sink column has low cardinality (≤ ~8 families) so dynamic
    partitioning produces a bounded number of directories; within each
    task files stay executor-local (no extra shuffle).
    """
    routed = with_sink(events)
    (
        routed.write.mode("append")
        .partitionBy("sink")
        .format(fmt)
        .save(base_path)
    )


def fanout_commit_catalog(
    events: DataFrame, base_dir: str, fence_id: int | None = None
) -> dict:
    """Route events to **per-sink snapshot-catalog tables** with ONE
    data pass — the north rule's 'routed by GC type to per-sink
    Iceberg tables with fan-out writes' realized over
    `sources/catalog.py`:

    1. one partitioned Spark write (`partitionBy('sink')`) lands every
       sink's files under a private staging dir — the only job that
       touches data;
    2. each sink's directory is MOVED (same-filesystem rename) into
       its table's ``data/`` area and committed with
       `catalog.commit_existing_files` — pure metadata, Iceberg's
       add-files path, one append snapshot per sink.

    A crash between 1 and 2 leaves only staging files no manifest
    references (collected by expire); a crash mid-2 leaves some sinks
    committed and the rest staged — re-running the job appends the
    missing sinks only if the caller dedups (e.g. via the ledger's
    chunk protocol or the batch fence below); the PRIMITIVE here is
    atomic per sink.

    ``fence_id`` enables exactly-once streaming composition
    (:func:`streaming_fanout_sink`): each sink commit carries it as
    the catalog's batch fence (written by the same atomic create as
    the snapshot, see `catalog.streaming_sink`), so a sink table that
    already holds the replayed batch skips its commit and drops its
    files.

    Returns ``{sink: snapshot_id}`` for the sinks committed this call.
    """
    import os
    import shutil
    import uuid as _uuid

    from gclog_parser_spark.sources import catalog as cat

    routed = with_sink(events)
    stage = os.path.join(base_dir, "_staging", f"c-{_uuid.uuid4().hex}")
    routed.write.mode("overwrite").partitionBy("sink").parquet(stage)
    schema_json = routed.drop("sink").schema.json()

    committed: dict[str, int] = {}
    for d in sorted(os.listdir(stage)):
        if not d.startswith("sink="):
            continue
        sink = d.split("=", 1)[1]
        table = os.path.join(base_dir, sink)
        commit_rel = os.path.join("data", f"commit-{_uuid.uuid4().hex}")
        os.makedirs(os.path.join(table, "data"), exist_ok=True)
        shutil.move(os.path.join(stage, d), os.path.join(table, commit_rel))
        snap = cat.commit_existing_files(
            table, commit_rel, schema_json, fence_id=fence_id
        )
        if snap is not None:
            committed[sink] = snap.snapshot_id
    shutil.rmtree(stage, ignore_errors=True)
    staging_root = os.path.join(base_dir, "_staging")
    if os.path.isdir(staging_root) and not os.listdir(staging_root):
        os.rmdir(staging_root)
    return committed


def streaming_fanout_sink(base_dir: str):
    """``foreachBatch`` fan-out into per-sink catalog tables with
    batch-id fencing — the streaming twin of
    :func:`fanout_commit_catalog` (and the per-sink generalization of
    `catalog.streaming_sink`): each micro-batch routes once, commits
    one append snapshot per sink it touched, and a replayed batch
    re-commits ONLY the sink tables that missed it — per-table
    exactly-once."""

    def _sink(batch_df, batch_id: int) -> None:
        fanout_commit_catalog(batch_df, base_dir, fence_id=batch_id)

    return _sink
