"""Table-maintenance: compaction + sorted data layout.

At 100 TB the dominant operational failure of an append-heavy lake
(`route.fanout_write` streams many small per-batch files) is the
small-files problem, and the dominant read-path win is clustering data
so parquet min/max footers prune row groups.  ``compact_table`` is the
maintenance pass that fixes both in one job, using only Spark's own
levers — no extra count() job, no driver-side planning:

* one shuffle: ``repartition(partition_cols)`` co-locates each output
  hive-partition on few tasks (the classic dynamic-partition-write
  shuffle that prevents tasks×partitions file explosions);
* ``sortWithinPartitions(sort_cols)`` clusters rows inside each task
  so every written file covers a narrow sort-key range (footer
  min/max pruning works);
* the ``maxRecordsPerFile`` writer option caps file size — Spark
  splits a task's output into N-record files by itself, which is how
  compactors bound file size without counting first.

On a real deployment the same plan runs as an Iceberg
``rewrite_data_files``; the hive-layout parquet stands in for the
sandbox (see `route.fanout_write`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def bucket_table(
    df: DataFrame,
    name: str,
    bucket_by: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Write (overwrite) ``df`` as a bucketed table — the co-location
    lever for repeated fact-to-fact joins.

    Two tables bucketed on the join key with the same bucket count
    join with ZERO exchanges: at 100 TB that converts every recurring
    lineitem⋈orders-shaped join from a full two-sided shuffle into a
    local per-bucket merge.  This is the parquet/hive stand-in for
    Iceberg's ``bucket(N, col)`` partition transform (same hash, same
    effect; see route.fanout_write for the Iceberg note).

    ``path`` makes it an external table (tests point this at a tmp
    dir); bucketing requires the table catalog, so this is
    ``saveAsTable``, not a bare ``parquet()`` write.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


#: rows per output file of ``compact_table``; a hive partition with
#: more rows is written as several files
MAX_RECORDS_PER_FILE = 1_000_000


def compact_table(
    df: DataFrame,
    out_path: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Rewrite (overwrite) ``df`` as a compacted, sorted,
    hive-partitioned table: each hive partition is written by one task,
    for maximal compaction."""
    partition_by = partition_by or []
    sort_by = sort_by or []
    out = df
    if partition_by:
        n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        # hash-cluster on the hive keys: each output directory is
        # written by one task, not by every task
        out = out.repartition(n_parts, *partition_by)
    if sort_by:
        out = out.sortWithinPartitions(*(partition_by + sort_by))
    writer = (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering
# ---------------------------------------------------------------------------

def _zvalue(cols, mins, maxs, bits: int):
    """Morton interleave of ``cols`` normalized to ``bits``-bit grid
    cells — pure codegen bitwise ops, no UDF.  Normalization is
    min/max linear scaling (one O(1)-row agg supplies the bounds), the
    same cheap quantization Delta's OPTIMIZE ZORDER applies via
    range-partition ids."""
    import pyspark.sql.functions as F

    n = len(cols)
    cells = []
    top = (1 << bits) - 1
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi - lo) if hi > lo else 1.0
        scaled = (F.col(c).cast("double") - float(lo)) / span * top
        cell = F.least(
            F.greatest(F.round(scaled).cast("long"), F.lit(0)),
            F.lit(top),
        )
        cells.append(cell)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, cell in enumerate(cells):
            bit = F.shiftright(cell, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_table(
    df,
    table: str,
    zorder_by: list[str],
    n_files: int = 8,
):
    """Rewrite ``df`` Z-order-clustered on ``zorder_by`` into the
    snapshot catalog at ``table`` (overwrite commit): rows are sorted
    by their Morton code and range-split into ``n_files`` files, so
    EVERY zorder column has narrow per-file min/max footer ranges and
    ``catalog.scan_with_pruning`` skips files on ANY of them — the
    multi-column-pruning property a single-column sort cannot give
    (the trailing columns' ranges stay full-width under a
    lexicographic sort; tests/test_layout.py pins the difference).

    Scale: one O(1) bounds agg + ONE range exchange on the z-value
    (the same shuffle a plain global sort costs); z computation is
    whole-stage-codegen bitwise ops.  This is the engine's
    `OPTIMIZE ZORDER BY` / Iceberg `rewrite_data_files(strategy =>
    'sort', sort_order => zorder(...))` twin.  Returns the committed
    snapshot.
    """
    import pyspark.sql.functions as F

    from gclog_parser_spark.sources.catalog import snapshot_write

    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in zorder_by],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in zorder_by],
    ).first()
    mins = [bounds[f"mn_{c}"] for c in zorder_by]
    maxs = [bounds[f"mx_{c}"] for c in zorder_by]
    z = _zvalue(zorder_by, mins, maxs, 16)
    clustered = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return snapshot_write(clustered, table, mode="overwrite")
