"""Compaction + sorted-layout writer (operators/layout.py): content
preservation is oracled in test_oracle_parity.py (`corpus_compact`);
here the LAYOUT properties are pinned — file counts, per-file sort
clustering, and the maxRecordsPerFile size cap."""

from __future__ import annotations

import glob
import os

from gclog_parser_spark.operators.layout import compact_table


def _files(base, lang):
    return sorted(
        glob.glob(os.path.join(base, f"lang={lang}", "*.parquet"))
    )


def test_compact_one_file_per_partition_and_sorted(spark, sf_dir, tmp_path):
    out = str(tmp_path / "compact")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    compact_table(docs, out, partition_by=["lang"], sort_by=["doc_id"])

    langs = [
        r["lang"] for r in docs.select("lang").distinct().collect()
    ]
    assert langs
    for lang in langs:
        files = _files(out, lang)
        # hash-clustered on the hive key: one task -> one file per dir
        assert len(files) == 1, (lang, files)
        ids = [
            r["doc_id"] for r in spark.read.parquet(files[0]).collect()
        ]
        assert ids == sorted(ids)  # footer min/max pruning works

    got = spark.read.parquet(out)
    assert got.count() == docs.count()


def test_compact_max_records_per_file_splits(
    spark, sf_dir, tmp_path, monkeypatch
):
    from gclog_parser_spark.operators import layout

    # 25 rows per file instead of 10^6, so a small table splits
    monkeypatch.setattr(layout, "MAX_RECORDS_PER_FILE", 25)
    out = str(tmp_path / "compact_small")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    compact_table(docs, out, partition_by=["lang"], sort_by=["doc_id"])
    per_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    for lang, n in per_lang.items():
        files = _files(out, lang)
        assert len(files) == -(-n // 25), (lang, n, len(files))


def test_zorder_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order gives BOTH columns narrow per-file footer ranges; a
    lexicographic single-key sort leaves the trailing column
    full-width in every file (no pruning)."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.layout import zorder_table
    from gclog_parser_spark.sources import catalog as cat

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    ztab = str(tmp_path / "zorder")
    zorder_table(ev, ztab, ["event_id", "user_id"], n_files=8)

    # content-preserving rewrite
    back = cat.read_snapshot(spark, ztab)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0

    # pruning works on BOTH z-order columns
    _, rep_e = cat.scan_with_pruning(spark, ztab, "event_id", 0, 200)
    _, rep_u = cat.scan_with_pruning(spark, ztab, "user_id", 0, 3)
    assert rep_e["files_total"] >= 8
    assert rep_e["files_scanned"] < rep_e["files_total"]
    assert rep_u["files_scanned"] < rep_u["files_total"]

    # the linear-sort twin: event_id prunes, user_id cannot
    ltab = str(tmp_path / "linear")
    linear = ev.repartitionByRange(8, "event_id").sortWithinPartitions(
        "event_id", "user_id"
    )
    cat.snapshot_write(linear, ltab, mode="overwrite")
    _, lrep_e = cat.scan_with_pruning(spark, ltab, "event_id", 0, 200)
    _, lrep_u = cat.scan_with_pruning(spark, ltab, "user_id", 0, 3)
    assert lrep_e["files_scanned"] < lrep_e["files_total"]
    assert lrep_u["files_scanned"] == lrep_u["files_total"]

    # pruned scans return exactly the filtered rows
    got, _ = cat.scan_with_pruning(spark, ztab, "user_id", 0, 3)
    want = ev.filter(F.col("user_id").between(0, 3))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
