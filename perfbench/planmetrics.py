"""Read Spark's own SQL metrics from a DataFrame's executed plan.

Metrics are only filled for the plan that actually ran, so read them
after an action on *the same* DataFrame (``df.collect()``): an action on
a derived frame (``df.count()``) executes a different plan and leaves
``df``'s metrics at zero.

The walk unwraps ``AdaptiveSparkPlan`` (its final plan) and AQE query
stages (the stage's exchange), and keeps, for each exchange, the
shuffle stage's map-output statistics so per-partition bytes are
available for skew.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: nodes that only adapt or wrap the operator under them
_WRAPPERS = ("InputAdapter", "WholeStageCodegen", "ColumnarToRow",
             "AQEShuffleRead", "Sort", "Project")


@dataclass
class PlanNode:
    name: str
    jnode: object  # the JVM SparkPlan node; metrics are read on demand
    children: list = field(default_factory=list)
    parent: "PlanNode | None" = None
    partition_bytes: list | None = None  # shuffle map output per reducer

    def metric(self, key: str, default=0):
        """SQL metric in base units: seconds for timings, else the raw
        value.  Read from the JVM only when asked: each py4j call costs
        about a millisecond."""
        m = self.jnode.metrics().get(key)
        if m.isEmpty():
            return default
        m = m.get()
        kind, v = m.metricType(), m.value()
        if kind == "timing":
            return v / 1e3
        if kind == "nsTiming":
            return v / 1e9
        return v

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def find(self, prefix: str):
        return [n for n in self.walk() if n.name.startswith(prefix)]

    def consumer(self):
        """First ancestor that is a real operator, not a wrapper."""
        p = self.parent
        while p is not None and p.name.startswith(_WRAPPERS):
            p = p.parent
        return p

    def producer(self):
        """First descendant (single-child chain) that is a real operator."""
        n = self
        while n.children:
            n = n.children[0]
            if not n.name.startswith(_WRAPPERS):
                return n
        return None


def executed_plan(df) -> PlanNode:
    """Tree of the executed physical plan of ``df``."""
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters

    def build(jnode, parent, stage=None):
        name = jnode.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return build(jnode.executedPlan(), parent)
        if "QueryStage" in name:
            return build(jnode.plan(), parent, jnode)
        if name.startswith("ReusedExchange"):
            return build(jnode.child(), parent)
        node = PlanNode(name, jnode, parent=parent)
        if stage is not None and name.startswith("Exchange"):
            stats = stage.mapStats()
            if stats.isDefined():
                node.partition_bytes = list(stats.get().bytesByPartitionId())
        node.children = [
            build(c, node) for c in conv.asJava(jnode.children())
        ]
        return node

    return build(df._jdf.queryExecution().executedPlan(), None)


def skew(partition_bytes) -> float:
    """max ÷ median of per-partition bytes (÷ mean when the median
    partition is empty)."""
    if not partition_bytes:
        return 0.0
    mid = statistics.median(partition_bytes)
    base = mid if mid > 0 else statistics.fmean(partition_bytes)
    return max(partition_bytes) / base if base else 0.0


def exchange_into(plan: PlanNode, consumer):
    """The shuffle exchange whose output feeds the first operator named
    ``consumer`` (a name prefix, or a tuple of them)."""
    for ex in plan.find("Exchange"):
        c = ex.consumer()
        if c is not None and c.name.startswith(consumer):
            return ex
    return None


def stage_input_records(spark, job_group: str) -> int:
    """Rows read from input sources by every stage of the jobs run
    under ``job_group`` (Spark's status store, so it counts re-scans)."""
    sc = spark.sparkContext
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job in conv.asJava(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() == job_group:
            stage_ids.update(conv.asJava(job.stageIds()))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    total = 0
    for st in conv.asJava(
        store.stageList(None, False, False, no_quantiles,
                        jvm.java.util.ArrayList())
    ):
        if st.stageId() in stage_ids:
            total += st.inputRecords()
    return total
