"""Structured Streaming variant (SURVEY.md §2.5 'Streaming').

The reference's ``incrementalParse`` (Parser.scala:134-151) is a
pull-based incremental consumer: offer lines, get
``GcEventParsed | NeedAnotherLine | SkipLine``.  The distributed
analogue is a micro-batch stream over arriving page files:

* ``stream_pages`` — file-source stream of pages parquet (on a real
  deployment: Kafka of WARC records or an Iceberg streaming read).
* ``parse_stream`` — the SAME narrow parse operator lifted unchanged
  into the stream: one page = one complete log, so stitching is
  per-row-local and needs no cross-batch state (the reference's
  NeedAnotherLine buffering collapses into the page boundary).
* ``run_fanout_stream`` — per-sink fan-out append with exactly-once
  file-sink semantics via the streaming checkpoint (the streaming twin
  of plans/ledger.py's chunk ledger).
* ``hourly_sink_counts`` — watermarked tumbling-window aggregate:
  late pages beyond the watermark are dropped, state is bounded — the
  100 TB-friendly continuous version of the batch per-(sink, hour)
  rollup.

Rates (W1-W3) are computed within each page's log (the log is whole per
page), so streaming output equals batch output page-for-page.

Every ``run_*`` runner is a checkpointed ``availableNow`` replay
started by ``_start``; the aggregate runners write the in-memory sink
through ``_to_memory``, and the one-file-per-trigger sources read
through ``_replay``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.operators.route import with_sink
from gclog_parser_spark.schema import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _replay(spark: SparkSession, schema, input_dir: str) -> DataFrame:
    """File-source stream, one file per micro-batch: chronologically
    written files pin the batch boundaries, so a replay is
    deterministic."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )


def _start(writer, checkpoint: str):
    """Every runner's finite replay: checkpointed, ``availableNow``."""
    return (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _to_memory(
    df: DataFrame, query_name: str, output_mode: str, checkpoint: str
):
    """In-memory sink writer of the aggregate runners (tests/demo;
    production would foreachBatch-upsert into a serving table)."""
    return _start(
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        checkpoint,
    )


def parse_stream(pages: DataFrame) -> DataFrame:
    """Streaming pages → routed ``gc_line`` events from marked logs.
    Narrow stitch only: the window strategy needs a global per-url
    sort, which an unbounded stream cannot provide (and does not need —
    one page carries one log).

    Rates are NOT applied here: Structured Streaming rejects analytic
    windows (NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING); they are
    applied per micro-batch inside foreachBatch, which is exact because
    a url's whole log arrives in one page row."""
    events = parse_events(pages, stitch="narrow")
    return with_sink(events)


def run_fanout_stream(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint: str,
):
    """Continuous parse → route → per-sink fan-out write.

    ``foreachBatch`` + dynamic partition write keeps one pass per
    micro-batch and lets the same code target Iceberg's
    ``append()``/``overwritePartitions()`` on a real deployment.
    The streaming checkpoint alone only gives at-least-once (a crash
    after the write but before the offset commit replays the batch);
    the write is made **idempotent** by partitioning on
    ``(batch_id, sink)`` with dynamic partition overwrite, so a
    replayed batch atomically replaces its own partitions instead of
    appending duplicates — together that is exactly-once output.
    """
    events = parse_stream(stream_pages(spark, input_dir))

    def write_batch(batch_df: DataFrame, batch_id: int):
        # rates need an analytic window — legal here because each
        # micro-batch is a plain batch DataFrame, and exact because one
        # page row carries one whole log
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        with_rates(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("overwrite").partitionBy(
            "batch_id", "sink"
        ).parquet(out_path)

    return _start(events.writeStream.foreachBatch(write_batch), checkpoint)


def dedup_stream(pages: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on the content hash with **bounded state**:
    ``dropDuplicatesWithinWatermark`` keeps a seen-hash entry only until
    the event-time watermark passes it, so state size is proportional to
    the watermark window, not the corpus — the only shape that survives
    an unbounded 10^12-doc ingestion stream (a plain ``dropDuplicates``
    would accrete state forever).  Duplicates arriving within the
    watermark of the first sighting are dropped; later re-crawls fall
    to the batch dedup stage (operators/dedup.py), which is the
    standard two-tier (online + offline) dedup split."""
    return (
        pages.withColumn("text_hash", F.md5("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
):
    """Continuous ingestion dedup: pages stream → watermarked hash dedup
    → parquet file sink (the sink's own transaction log gives
    exactly-once files)."""
    deduped = dedup_stream(
        stream_pages(spark, input_dir, max_files_per_trigger),
        watermark=watermark,
    ).select("url", "warc_ts", "text_hash")
    return _start(
        deduped.writeStream.format("parquet").option("path", out_path),
        checkpoint,
    )


def hourly_sink_counts(events: DataFrame) -> DataFrame:
    """2-hour-watermarked per-(sink, hour) streaming aggregate; append-mode
    emits each hour once its watermark passes (bounded state)."""
    return (
        events.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "sink")
        .agg(
            F.count("*").alias("events"),
            F.sum("heap_reclaimed_bytes").alias("heap_reclaimed_sum"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "sink",
            "events",
            "heap_reclaimed_sum",
        )
    )


def run_hourly_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    query_name: str = "hourly_sinks",
):
    """Windowed streaming aggregate to an in-memory sink."""
    events = parse_stream(stream_pages(spark, input_dir))
    return _to_memory(
        hourly_sink_counts(events), query_name, "complete", checkpoint
    )


def sliding_value_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of ``aggregate.sliding_counts``: watermarked
    OVERLAPPING windows (600 s sliding every 300 s) per event_type —
    each row is assigned to its duration/slide windows scan-side, state
    is bounded by the 30-minute watermark horizon, and the output schema
    matches the batch operator exactly (window_start as epoch seconds),
    so the SAME DuckDB oracle value-checks both the batch and streaming
    paths."""
    ts = F.col("ts").cast("timestamp")
    win = F.window(F.col("ts_t"), "600 seconds", "300 seconds")
    return (
        events.select(ts.alias("ts_t"), "event_type", "value")
        .withWatermark("ts_t", "30 minutes")
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_sliding_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint: str,
    query_name: str = "sliding_events",
):
    """Sliding-window streaming aggregate to an in-memory sink
    (complete mode: a finite replay must emit every window, including
    the ones still inside the watermark horizon at end-of-input)."""
    ev = spark.readStream.schema(schema).parquet(input_dir)
    return _to_memory(
        sliding_value_counts(ev), query_name, "complete", checkpoint
    )


def attribution_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream INNER interval join (view -> purchase attribution):
    each purchase joins every view by the same user at most 30 minutes
    before it.  Both sides carry a 2-hour event-time watermark and the
    join condition carries the time bound, so Spark can evict view state
    30 minutes past the watermark and purchase state at the watermark —
    state is bounded by the lag horizon, not the stream length.  The
    lag is emitted as integer microseconds (exact on both engines — no
    float epoch drift against the DuckDB oracle).

    Works identically on batch DataFrames (the join is pure relational),
    which is how the tests and the oracle value-check it.
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
        F.col("value"),
    )
    if views.isStreaming:
        v = v.withWatermark("v_ts", "2 hours")
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", "2 hours")
    joined = v.join(
        p,
        F.expr(
            "user_id = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + interval 30 minutes"
        ),
    )
    return joined.select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_micros"),
        F.round("value", 6).alias("purchase_value"),
    )


def run_attribution_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint: str,
    query_name: str = "attribution",
):
    """Two independent file-source streams over the same events
    directory (views / purchases) -> watermarked stream-stream interval
    join -> append-mode memory sink.  Inner-join matches are emitted in
    the micro-batch where both sides are present, so a finite
    availableNow replay emits exactly the batch join result."""
    def _side(event_type):
        return (
            spark.readStream.schema(schema)
            .parquet(input_dir)
            .filter(F.col("event_type") == event_type)
        )

    agg = attribution_join(_side("view"), _side("purchase"))
    return _to_memory(agg, query_name, "append", checkpoint)


def session_window_counts(events: DataFrame) -> DataFrame:
    """Streaming twin of the native session_window aggregation
    (__spark_entry__.q_rel_session_window): 6-hour-gap event-time
    sessions per user, schema-identical to the batch query so the
    SAME DuckDB gaps-and-islands oracle value-checks both paths.
    State ∝ open sessions; a watermark bounds it on an infinite
    stream (the finite-replay runner uses complete mode so every
    session — including still-open ones — is emitted at end of
    input)."""
    return (
        events.select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .groupBy(F.session_window("ts", "6 hours"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("duration_us"),
        )
        .select("user_id", "session_start", "n_events", "duration_us")
    )


def run_session_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint: str,
    query_name: str = "session_events",
):
    """Session-window streaming aggregate to an in-memory sink
    (complete mode: the finite replay must emit sessions still open
    at end-of-input too — exactly the batch result)."""
    ev = spark.readStream.schema(schema).parquet(input_dir)
    return _to_memory(
        session_window_counts(ev), query_name, "complete", checkpoint
    )


def run_cdc_apply_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    table: str,
    checkpoint: str,
):
    """Continuous MERGE apply: a file-source changelog stream is
    folded into the snapshot-catalog table one micro-batch at a time
    via ``foreachBatch`` — each batch reads the current snapshot,
    merges (:func:`operators.cdc.apply_changes` — newest change per
    key wins, ``is_del`` tombstones delete), and commits the merged
    state as a new snapshot (copy-on-write MERGE; every intermediate
    state stays time-travelable).

    Sequential chronological batches compose to exactly the one-shot
    MERGE over the whole changelog (the contract query's oracle runs
    that one-shot form): within a batch the window picks the newest,
    across batches a later batch's change always beats the standing
    state, and chronological file order makes "later batch" mean
    "newer change".  ``maxFilesPerTrigger=1`` pins one file per batch
    so the replay is deterministic.

    Scale shape: per batch, one window over (state ∪ batch) keyed on
    the merge key and one table rewrite — the copy-on-write cost model
    (state is the per-key snapshot, ≪ the changelog); a MoR variant
    would commit equality-deletes instead (sources/catalog.py
    supports both)."""
    from gclog_parser_spark.operators.cdc import apply_changes
    from gclog_parser_spark.sources import catalog as cat

    def _apply(batch, batch_id):
        if not batch.take(1):
            return
        state = cat.read_snapshot(batch.sparkSession, table)
        merged = apply_changes(state, batch, delete_col="is_del")
        cat.snapshot_write(merged, table, mode="overwrite")

    return _start(
        _replay(spark, schema, input_dir).writeStream.foreachBatch(_apply),
        checkpoint,
    )


def run_hll_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint: str,
    query_name: str = "hll_registers",
):
    """Streaming HyperLogLog: the register relation is a stateful
    streaming MAX aggregate, one file per micro-batch.  Because HLL
    state merges by register-max (exactly the aggregate running here),
    the final in-memory table is BIT-IDENTICAL to the batch sketch
    over the same rows — so the stream is value-checked by the same
    DuckDB oracle as ``agg_hll_distinct``.  State is bounded at
    groups × 2^p rows no matter how many events stream through — the
    always-on distinct-users dashboard that never holds a user set."""
    from gclog_parser_spark.operators.aggregate import hll_registers

    regs = hll_registers(
        _replay(spark, schema, input_dir), ["event_type"], "user_id"
    )
    return _to_memory(regs, query_name, "complete", checkpoint)


def run_late_audit_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    checkpoint: str,
    query_name: str = "late_hours",
):
    """APPEND-mode hourly aggregate with a 3-day watermark — the query
    that makes Structured Streaming's late-data contract observable.
    Every other stream in this module runs complete/update-ish modes
    where nothing is ever dropped; this one runs the production
    dashboard shape:

    * state for an hour window is kept only until the watermark passes
      its end (bounded state — the reason a 10^12-event stream can run
      forever),
    * a row arriving AFTER the watermark has passed its window is
      dropped on input (the late-data discard),
    * a window row is emitted exactly once, when it is finalized.

    Watermark mechanics this exposes (and the contract oracle models
    to the millisecond): the watermark used while processing micro-
    batch N is ``max(event time seen through batch N-1) - delay``,
    ms-truncated; a row is dropped iff its window END <= that
    watermark; a window is emitted iff its end <= the FINAL watermark
    (availableNow runs a trailing no-data batch to flush eviction).

    ``maxFilesPerTrigger=1`` + chronologically named/written files pin
    the batch boundaries so the replay is deterministic."""
    # event-time ops need TIMESTAMP; the table stores NTZ (UTC session
    # makes the cast value-preserving)
    ev = _replay(spark, schema, input_dir).withColumn(
        "ts_t", F.col("ts").cast("timestamp")
    )
    agg = (
        ev.withWatermark("ts_t", "3 days")
        .groupBy(F.window("ts_t", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_stream"))
        .select(F.col("w.start").alias("hour"), "n_stream")
    )
    return _to_memory(agg, query_name, "append", checkpoint)


def run_incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    survivors_dir: str,
    checkpoint: str,
):
    """Streaming corpus maintenance: each arriving crawl batch is
    deduplicated against the ACCUMULATED survivor corpus
    (``operators.dedup.incremental_dedup`` — exact hash probe, LSH
    band probe vs the survivors' band index, greedy within-batch
    rule) and only its keepers are appended to the survivor table.
    This is the never-re-cluster-the-corpus loop run continuously:
    state grows by keepers only, every batch costs
    O(batch × bands + matching postings), and the corpus is never
    rescanned.

    Replay is idempotent BY CONSTRUCTION, no fencing needed: if a
    micro-batch re-runs after a crash, its former keepers are already
    in the survivor corpus, so every document in the replayed batch
    exact-matches a survivor (its own first copy) and the batch
    appends nothing (proven by
    ``test_streaming.py::test_incremental_dedup_stream_replay``).

    ``maxFilesPerTrigger=1`` pins one file per micro-batch so the
    greedy order is the chronological file order, exactly like
    :func:`run_cdc_apply_stream`."""
    from gclog_parser_spark.operators.dedup import incremental_dedup

    def _apply(batch, batch_id):
        if not batch.take(1):
            return
        s = batch.sparkSession
        # Only a genuinely-missing survivor table means "first batch".
        # A transient read failure (IO error, corrupt footer) on a
        # LATER batch must fail the micro-batch so the checkpoint
        # retries it — silently deduping against an empty corpus would
        # permanently append duplicates, violating the loop invariant.
        jvm_path = s._jvm.org.apache.hadoop.fs.Path(survivors_dir)
        fs = jvm_path.getFileSystem(
            s._jsc.hadoopConfiguration()
        )
        if fs.exists(jvm_path):
            corpus = s.read.parquet(survivors_dir).select(
                "doc_id", "text"
            )
        else:  # first batch: no survivors yet
            corpus = s.createDataFrame(
                [], "doc_id long, text string"
            )
        verdict = incremental_dedup(corpus, batch)
        keepers = batch.join(
            verdict.where(F.col("keep")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        keepers.write.mode("append").parquet(survivors_dir)

    return _start(
        _replay(spark, schema, input_dir).writeStream.foreachBatch(_apply),
        checkpoint,
    )
