"""Temporal joins Spark's DataFrame API lacks as primitives — as-of
join and interval range join — built from shuffle-lean relational
plans (no Python in the hot path, no cross product, no driver state).

The reference engine has no joins at all (its pipeline is a linear
parse; see /root/reference/src/main/scala/io/github/binaryfoo/gclog/
Main.scala:35-73), so these derive from the north rule's
"log/telemetry parse → enrich → route → aggregate over web-scale
tables" charter: correlating a telemetry stream against the latest
preceding state change (as-of) and against incident windows (range)
are the two standard temporal enrichments such a pipeline needs.

Scale notes (the 100 TB story):

* ``asof_join`` is the union-tag + running ``last(ignoreNulls)``
  window formulation: ONE hash exchange on the join key for both
  sides together, then a streaming window per key — never a per-row
  probe, never a broadcast of a fact table.  State per task is O(1)
  (the window only carries the most recent right-side values).  A
  pathologically hot key serializes within its window partition; AQE
  cannot split a window, so extreme key skew should be pre-filtered
  or bucketed upstream (documented, same caveat as sessionization).
* ``range_join`` avoids the O(|facts| x |intervals|) cross-filter
  plan Spark produces for a bare inequality join by bucketing time:
  each interval explodes to the fixed-width buckets it covers, each
  fact maps to exactly one bucket, and the join is a plain equi-join
  on the bucket id followed by the exact containment filter.  Shuffle
  is proportional to facts + interval-bucket postings; pick
  ``bucket_secs`` near the typical interval length so intervals
  explode to O(1) buckets each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

_SIDE, _TS = "_asof_side", "_asof_ts"


def _micros(col):
    """unix_micros over either TIMESTAMP or TIMESTAMP_NTZ (parquet
    event times land as NTZ; sessions run in UTC, so the cast is
    exact)."""
    return F.unix_micros(col.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For every left row, attach the latest right row with
    ``right.ts <= left.ts`` for the same ``key`` (backward as-of, the
    pandas ``merge_asof`` / kdb ``aj`` semantics), as a left join —
    left rows with no preceding right row keep nulls.  Both sides carry
    their time in ``ts``; each right column ``c`` comes back as
    ``asof_c``.

    Plan: tag both sides, union, one window per key ordered by
    ``(ts, side)`` with the right side sorting first on ties (so a
    right row at exactly ``left.ts`` matches), carry each requested
    right column forward with ``last(ignoreNulls)``, keep the left
    rows.  Ties inside the right side are broken deterministically by
    ordering on every carried column (the synthetic and GC streams
    are tie-free; the ordering makes retries stable anyway).
    """
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c != key
    ]
    if "ts" not in rcols:
        rcols = ["ts"] + rcols
    lcols = [c for c in left.columns if c not in (key, "ts")]
    rtypes = dict((f.name, f.dataType) for f in right.schema.fields)
    ltypes = dict((f.name, f.dataType) for f in left.schema.fields)

    lhs = left.select(
        F.col(key),
        F.col("ts").alias(_TS),
        F.lit(1).alias(_SIDE),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(rtypes[c]).alias(f"_r_{c}") for c in rcols],
    )
    rhs = right.select(
        F.col(key),
        F.col("ts").alias(_TS),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in rcols],
    )
    # deterministic tie order: ts, side (right first), then the right
    # payload itself so duplicate right timestamps resolve stably
    w = (
        Window.partitionBy(key)
        .orderBy(_TS, _SIDE, *[f"_r_{c}" for c in rcols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = lhs.unionByName(rhs)
    for c in rcols:
        u = u.withColumn(
            f"asof_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w)
        )
    return (
        u.filter(F.col(_SIDE) == 1)
        .drop(_SIDE, *[f"_r_{c}" for c in rcols])
        .withColumnRenamed(_TS, "ts")
    )


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    bucket_secs: int = 600,
) -> DataFrame:
    """Inner-join every fact row to every interval row with
    ``istart <= fact.ts < iend`` (no equi key — pure interval
    containment), as a bucketed equi-join instead of the BNLJ/cross
    plan a bare inequality join plans to.

    Each interval emits one row per ``bucket_secs``-wide time bucket
    it covers (``sequence`` — codegen, no Python); each fact belongs
    to exactly one bucket, so the equi-join on the bucket id produces
    at most one candidate row per (interval, fact) pair and no
    post-join dedup is needed.  The exact containment predicate then
    trims boundary buckets.  Output: all interval columns + all fact
    columns (caller guarantees disjoint names).
    """
    b = F.lit(int(bucket_secs) * 1_000_000)

    def _bkt(x):
        # integer-exact floor division: (x - x % b) is an exact
        # multiple of b in long arithmetic, so the double division
        # rounds to the exact quotient (a bare x / b can land one ulp
        # under an exact boundary and floor a fact into the wrong
        # bucket)
        return ((x - x % b) / b).cast("long")

    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                _bkt(_micros(F.col("istart"))), _bkt(_micros(F.col("iend")))
            )
        ),
    )
    fc = facts.withColumn("_bkt", _bkt(_micros(F.col("ts"))))
    return (
        iv.join(fc, "_bkt")
        .filter(
            (F.col("ts") >= F.col("istart")) & (F.col("ts") < F.col("iend"))
        )
        .drop("_bkt")
    )


def resample_ffill(events: DataFrame) -> DataFrame:
    """Time-series resampling with forward fill: per ``user_id``, a regular
    hourly grid from the key's first to last observation, carrying
    the most recent observed ``value`` across empty buckets — the
    gap-filling primitive behind every dashboard line chart and every
    join-against-a-regular-clock feature pipeline.

    Deterministic: within a bucket the kept observation is the max by
    the (epoch-micros, event_id) total order (encoded as one sortable
    string so both engines' arg-max agree on ties); the fill itself is
    ``last(ignoreNulls)`` over the grid order.

    Scale shape: the grid is generated scan-side per key
    (``sequence`` + explode — rows ∝ keys × buckets, no join against
    a calendar table), observations pre-collapse to one row per
    (key, bucket) map-side, and the fill is ONE window over the same
    key partitioning the grid join already established — a single
    exchange on ``key`` end-to-end.  Keys are independent, so the
    plan scales with executors; a single key spanning years serializes
    only its own window (same caveat as sessionization)."""
    from pyspark.sql import Window

    # the grid step equals the truncation unit, so every observation
    # lands on a grid bucket
    bucket = F.date_trunc("hour", F.col("ts"))
    order_key = F.concat(
        F.lpad(_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    obs = (
        events.select(
            "user_id",
            bucket.alias("bucket"),
            F.col("value"),
            order_key.alias("_k"),
        )
        .groupBy("user_id", "bucket")
        .agg(F.expr("max_by(value, _k)").alias("_obs"))
    )
    grid = (
        events.groupBy("user_id")
        .agg(
            F.min(bucket).alias("_lo"),
            F.max(bucket).alias("_hi"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("_lo", "_hi", F.expr("INTERVAL 1 hour"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.last("_obs", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("_obs").isNotNull().alias("is_observed"),
        )
    )
