"""End-to-end pipeline composition + metrics (SURVEY.md §3.4, §7.7-7.8).

``build_events`` is the whole logical plan — parse → rates → enrich →
route — as ONE declarative DataFrame, so Catalyst sees everything at
once (column pruning reaches the scan, the broadcast join plans against
the final output columns, AQE re-plans the window shuffle at runtime).

``PipelineMetrics`` carries the north rule's per-partition metrics:
pages observed on the extract output (``df.observe``, exactly-once) and
SparkContext accumulators updated inside the Arrow parse workers
(events / skipped blocks, under either stitch; a retried task adds its
counts again).
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

