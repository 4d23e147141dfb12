"""End-to-end pipeline composition + metrics (SURVEY.md §3.4, §7.7-7.8).

``build_events`` is the whole logical plan — parse → rates → enrich →
route — as ONE declarative DataFrame, so Catalyst sees everything at
once (column pruning reaches the scan, the broadcast join plans against
the final output columns, AQE re-plans the window shuffle at runtime).

``PipelineMetrics`` carries the north rule's per-partition metrics:
pages observed on the extract output (``df.observe``, exactly-once) and
SparkContext accumulators updated inside the Arrow parse workers
(events / skipped blocks), under either stitch — the distributed
analogue of the reference's absent-but-needed observability (its
Main.scala just loops files single-threaded).
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession

from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.operators.route import with_sink


@dataclass
class PipelineMetrics:
    pages: object
    events: object
    skipped_blocks: object

    @classmethod
    def create(cls, spark: SparkSession) -> "PipelineMetrics":
        sc = spark.sparkContext
        return cls(Observation(), sc.accumulator(0), sc.accumulator(0))

    def snapshot(self) -> dict:
        """Counts of the action run on the built frame (waits for it)."""
        try:
            pages = self.pages.get["pages"]
        except Py4JJavaError:
            # no metrics row: AQE pruned the observed scan of an input
            # it found empty
            pages = 0
        return {
            "pages": pages,
            "events": self.events.value,
            "skipped_blocks": self.skipped_blocks.value,
        }


def build_events(
    pages: DataFrame,
    mode: str = "gc_line",
    stitch: str = "narrow",
    require_marker: bool = True,
    metrics: PipelineMetrics | None = None,
) -> DataFrame:
    """pages → routed, rate-annotated events (the full logical plan)."""
    events = parse_events(
        pages,
        mode=mode,
        stitch=stitch,
        require_marker=require_marker,
        counters=metrics,
    )
    return with_sink(with_rates(events))


def observed_events(events, name: str = "gc_metrics"):
    """The modern (Spark 3.3+/4) twin of the accumulator counters:
    ``df.observe`` attaches aggregate metrics to the PLAN, collected
    as a side effect of whatever action runs — no second scan, no
    driver round-trip, and unlike accumulators the values are
    exactly-once per query (retried tasks can double-count
    accumulators; observed metrics are computed in the aggregation
    layer).

    Returns ``(observed_df, observation)``: run any action on the
    frame, then read ``observation.get`` for {'events', 'urls_hashed',
    'pause_seconds_sum', 'null_pause_events'}.  At cluster scale this
    is the per-job health row a pipeline publishes with every run.
    """
    import pyspark.sql.functions as F

    obs = Observation(name)
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("events"),
        F.approx_count_distinct("url").alias("urls_hashed"),
        F.round(F.sum("pause_seconds"), 6).alias("pause_seconds_sum"),
        F.sum(
            F.col("pause_seconds").isNull().cast("long")
        ).alias("null_pause_events"),
    )
    return observed, obs
