"""Checkpoint-resumable chunked execution (north rule: 'resumable from
checkpoint with per-partition lineage + metrics').

The unit of recovery is a **url-hash chunk**: ``chunk_id =
pmod(xxhash64(url), n_chunks)`` — deterministic, data-independent, and
aligned with the pipeline's own url-hash partitioning, so resuming never
re-shuffles differently than the first attempt.

Protocol (idempotent, at-least-once → exactly-once output):

1. read the ledger (a tiny parquet table next to the output); completed
   ``chunk_id``s are skipped — this is the resume path.
2. per pending chunk: run the full pipeline on ``WHERE chunk_id = c``,
   write events with **dynamic partition overwrite** of exactly that
   chunk's subdirectory (``partitionBy(chunk_id)`` + INSERT OVERWRITE
   semantics) — a re-run of a half-written chunk replaces it, never
   duplicates it.  On Iceberg this maps to
   ``overwritePartitions()`` — the same atomic-replace contract.
3. append one ledger row (chunk lineage: counts from the parse-stage
   metrics, wall seconds, timestamp) only AFTER the data commit.
   A crash between 2 and 3 re-runs the chunk; step 2 makes that safe.

At 100 TB the chunk count is sized so one chunk ≈ one executor-hour of
work: big enough to amortize job-start overhead, small enough that a
preemption loses minutes, not hours.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gclog_parser_spark.plans.pipeline import PipelineMetrics, build_events

LEDGER_SCHEMA = (
    "chunk_id int, pages bigint, events bigint, skipped_blocks bigint,"
    " wall_seconds double, finished_at_epoch bigint,"
    " n_chunks int, mode string, stitch string"
)


def with_chunk_id(pages: DataFrame, n_chunks: int) -> DataFrame:
    return pages.withColumn(
        "chunk_id", F.pmod(F.xxhash64("url"), F.lit(n_chunks)).cast("int")
    )


def completed_chunks(
    spark: SparkSession,
    ledger_path: str,
    n_chunks: int | None = None,
    mode: str | None = None,
    stitch: str | None = None,
) -> set[int]:
    """Completed chunk ids from the ledger.  When the current run's
    config is passed, a prior run recorded under a DIFFERENT
    (n_chunks, mode, stitch) fails fast: chunk ids are only meaningful
    under the modulus that produced them — silently skipping ids from
    an old modulus would both duplicate and drop urls."""
    try:
        rows = (
            spark.read.parquet(ledger_path)
            .select("chunk_id", "n_chunks", "mode", "stitch")
            .distinct()
            .collect()
        )
    except Exception:  # first run: no ledger yet
        return set()
    if n_chunks is not None:
        bad = {
            (r["n_chunks"], r["mode"], r["stitch"])
            for r in rows
        } - {(n_chunks, mode, stitch)}
        if bad:
            raise ValueError(
                f"ledger at {ledger_path} was written with config "
                f"{sorted(bad)}; this run uses "
                f"{(n_chunks, mode, stitch)} — resume with the same "
                "config or point at a fresh output/ledger path"
            )
    return {r["chunk_id"] for r in rows}


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    ledger_path: str,
    n_chunks: int = 8,
    mode: str = "gc_line",
    stitch: str = "narrow",
    require_marker: bool = True,
    log=None,
) -> dict:
    """Run the full pipeline chunk-by-chunk with ledger checkpointing.

    Returns a summary dict {chunks_total, chunks_skipped, chunks_run,
    pages, events, skipped_blocks}.
    """
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        chunked = with_chunk_id(pages, n_chunks)
        done = completed_chunks(
            spark, ledger_path, n_chunks=n_chunks, mode=mode, stitch=stitch
        )
        ran = []
        for cid in range(n_chunks):
            if cid in done:
                continue
            metrics = PipelineMetrics.create(spark)
            t0 = time.perf_counter()
            events = build_events(
                chunked.where(F.col("chunk_id") == cid).drop("chunk_id"),
                mode=mode,
                stitch=stitch,
                require_marker=require_marker,
                metrics=metrics,
            ).withColumn("chunk_id", F.lit(cid))
            # flatten the struct arrays for a plain parquet sink
            events.write.mode("overwrite").partitionBy(
                "chunk_id", "sink"
            ).parquet(out_path)
            wall = time.perf_counter() - t0
            snap = metrics.snapshot()
            row = [
                (
                    cid,
                    snap["pages"],
                    snap["events"],
                    snap["skipped_blocks"],
                    float(round(wall, 3)),
                    int(time.time()),
                    n_chunks,
                    mode,
                    stitch,
                )
            ]
            spark.createDataFrame(row, LEDGER_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(ledger_path)
            ran.append(cid)
            if log:
                log(f"chunk {cid}: {snap} in {wall:.1f}s")
        from pyspark.sql import Window

        led = spark.read.parquet(ledger_path)
        w = Window.partitionBy("chunk_id").orderBy(
            F.desc("finished_at_epoch")
        )
        led = led.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") == 1
        )
        totals = (
            led.agg(
                F.sum("pages").alias("pages"),
                F.sum("events").alias("events"),
                F.sum("skipped_blocks").alias("skipped_blocks"),
            )
            .collect()[0]
        )
        return {
            "chunks_total": n_chunks,
            "chunks_skipped": len(done),
            "chunks_run": len(ran),
            "pages": totals["pages"],
            "events": totals["events"],
            "skipped_blocks": totals["skipped_blocks"],
        }
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
