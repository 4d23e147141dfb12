"""Change-data-capture compaction: upsert/latest-snapshot semantics.

The reference engine is batch-only over immutable logs; a 100 TB
lakehouse pipeline additionally needs the MERGE/upsert family the
north rule's Iceberg sinks imply (the sandbox has no Iceberg runtime —
`operators/route.fanout_write` documents that — so the *semantics* are
implemented as relational operators that an Iceberg MERGE INTO would
execute underneath):

* ``latest_snapshot`` — collapse an append-only changelog to the
  newest row per key (the compaction read-path of every upsert table).
* ``apply_changes`` — apply a changelog (upserts + tombstone deletes)
  onto a base snapshot, producing the next snapshot.

Scale shape: both are ONE hash exchange on the key with the per-key
ordering done inside the window sort — no join for ``latest_snapshot``
(a self-join max-ts formulation would shuffle twice), and
``apply_changes`` is a union + the same single-exchange window (never
a full-outer join, which would shuffle both sides *and* break on
duplicate change keys).  Ties are broken (ts DESC, change_id DESC) so
the kept row is deterministic cross-engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def latest_snapshot(changes: DataFrame) -> DataFrame:
    """Newest row per ``user_id`` from an append-only changelog —
    deterministic: (ts DESC, event_id DESC) totally orders each
    key's changes because ``event_id`` is unique."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO base USING changes: upsert the newest change per
    ``user_id`` (by ts, then event_id) over the base row, honoring tombstones.

    Base rows are tagged with the lowest precedence (a change with the
    same key always wins, regardless of its timestamp — MERGE
    semantics, not bitemporal merge), then one windowed pick per key.
    If ``delete_col`` names a boolean column on ``changes``, a winning
    tombstone removes the key from the snapshot.
    """
    cols = base.columns
    tagged_base = base.select(*cols).withColumns(
        {
            "_prec": F.lit(0),
            "_del": F.lit(False),
        }
    )
    del_expr = (
        F.coalesce(F.col(delete_col), F.lit(False))
        if delete_col
        else F.lit(False)
    )
    tagged_changes = changes.select(*cols, del_expr.alias("_del")).withColumn(
        "_prec", F.lit(1)
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("_prec"), F.desc("ts"), F.desc("event_id")
    )
    return (
        tagged_base.unionByName(tagged_changes)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col("_del")))
        .drop("_rn", "_prec", "_del")
    )


def scd2_history(changes: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an append-only
    changelog: one validity interval per ``event_type`` RUN of a
    ``user_id`` — consecutive
    changes carrying the same value are compressed away (the
    change-detection step; without it every heartbeat update mints a
    spurious version), each surviving change opens ``[valid_from,
    valid_to)`` closed by the next change, and the newest version per
    key has ``valid_to`` NULL / ``is_current`` true.  This is the
    MERGE-with-history write path of a dimension table, expressed as
    the relational plan an Iceberg SCD2 merge executes underneath.

    Scale shape: ONE hash exchange on the key; the run-compression
    ``lag`` and the interval-closing ``lead`` ride the same partition
    ordering (ts, seq — deterministic cross-engine tie-break), so
    Catalyst reuses the sort.  No join, no driver state.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vers = changes.withColumn("prev", F.lag("event_type").over(w)).where(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        vers.withColumn("valid_to", F.lead("ts").over(w2))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
