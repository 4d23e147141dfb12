"""Checkpoint ledger, lineage metrics, and the spark-submit job entry
(north rule: resumable from checkpoint, per-partition lineage + metrics,
run via spark-submit --py-files)."""

from __future__ import annotations

import json
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.datagen import pages_from_documents
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.plans.ledger import (
    completed_chunks,
    run_checkpointed,
    with_chunk_id,
)
from gclog_parser_spark.plans.pipeline import PipelineMetrics, build_events


def test_metrics_accumulators(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    metrics = PipelineMetrics.create(spark)
    events = build_events(pages, metrics=metrics)
    n = events.count()
    snap = metrics.snapshot()
    assert snap["pages"] == pages.count()
    assert snap["events"] == n
    assert snap["skipped_blocks"] == 0


class _Boom(RuntimeError):
    pass


def test_checkpoint_resume(spark, sf_dir, tmp_path):
    pages = pages_from_documents(spark, sf_dir)
    out = str(tmp_path / "events")
    ledger = str(tmp_path / "ledger")
    want = parse_events(pages).count()

    # crash after 2 committed chunks (the log hook fires post-commit)
    calls = []

    def crash_log(msg):
        calls.append(msg)
        if len(calls) == 2:
            raise _Boom(msg)

    with pytest.raises(_Boom):
        run_checkpointed(
            spark, pages, out, ledger, n_chunks=4, log=crash_log
        )
    assert completed_chunks(spark, ledger) != set()
    assert len(completed_chunks(spark, ledger)) == 2

    # resume: only the remaining chunks run; totals are complete
    summary = run_checkpointed(spark, pages, out, ledger, n_chunks=4)
    assert summary["chunks_skipped"] == 2
    assert summary["chunks_run"] == 2
    assert summary["events"] == want
    assert spark.read.parquet(out).count() == want

    # fully idempotent third run: nothing to do, totals unchanged
    summary = run_checkpointed(spark, pages, out, ledger, n_chunks=4)
    assert summary["chunks_run"] == 0
    assert summary["events"] == want


def test_ledger_config_mismatch_fails_fast(spark, sf_dir, tmp_path):
    """Resuming under a different n_chunks (or mode/stitch) must raise:
    chunk ids recorded under the old modulus would silently duplicate
    and drop urls if reused."""
    pages = pages_from_documents(spark, sf_dir)
    out = str(tmp_path / "events")
    ledger = str(tmp_path / "ledger")
    run_checkpointed(spark, pages, out, ledger, n_chunks=2)
    with pytest.raises(ValueError, match="n_chunks|config"):
        run_checkpointed(spark, pages, out, ledger, n_chunks=4)
    with pytest.raises(ValueError, match="config"):
        run_checkpointed(
            spark, pages, out, ledger, n_chunks=2, mode="heap_stats"
        )
    # same config: clean no-op resume
    summary = run_checkpointed(spark, pages, out, ledger, n_chunks=2)
    assert summary["chunks_run"] == 0


def test_ledger_counts_match_across_stitches(spark, sf_dir, tmp_path):
    """Each ledger row counts its chunk's extracted pages, parsed events
    and skipped blocks, and the same chunk records the same row under
    either stitch."""
    from gclog_parser_spark.operators.parse import extract_gc_text

    pages = pages_from_documents(spark, sf_dir)
    cols = ["chunk_id", "pages", "events", "skipped_blocks"]
    rows = {}
    for stitch in ("narrow", "window"):
        base = tmp_path / stitch
        run_checkpointed(
            spark, pages, str(base / "events"), str(base / "ledger"),
            n_chunks=2, stitch=stitch,
        )
        led = spark.read.parquet(str(base / "ledger")).select(cols)
        rows[stitch] = sorted(map(tuple, led.collect()))
    assert rows["narrow"] == rows["window"]

    def per_chunk(df):
        counts = with_chunk_id(df, 2).groupBy("chunk_id").count().collect()
        return {r["chunk_id"]: r["count"] for r in counts}

    want_pages = per_chunk(extract_gc_text(pages))
    want_events = per_chunk(parse_events(pages))
    assert [r[:3] for r in rows["window"]] == [
        (c, want_pages[c], want_events[c]) for c in (0, 1)
    ]
    # an input Catalyst knows is empty leaves no observed row: zero pages
    empty = run_checkpointed(
        spark, pages.limit(0), str(tmp_path / "e" / "events"),
        str(tmp_path / "e" / "ledger"), n_chunks=2, stitch="window",
    )
    assert (empty["pages"], empty["events"]) == (0, 0)


def test_chunk_assignment_deterministic(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    a = with_chunk_id(pages, 8).groupBy("chunk_id").count().collect()
    b = with_chunk_id(pages, 8).groupBy("chunk_id").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert sum(r["count"] for r in a) == pages.count()


def test_routed_output_partition_pruned(spark, sf_dir, tmp_path):
    """Reading one sink back scans only that sink's files (the per-sink
    Iceberg-table analogue; partition pruning must show in the plan)."""
    pages = pages_from_documents(spark, sf_dir)
    out = str(tmp_path / "events")
    ledger = str(tmp_path / "ledger")
    run_checkpointed(spark, pages, out, ledger, n_chunks=2)
    df = spark.read.parquet(out).where(F.col("sink") == "full")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "full" in plan  # pruning pushed into the scan
    total = spark.read.parquet(out).count()
    assert 0 < df.count() < total


@pytest.mark.slow
def test_spark_submit_job_end_to_end(spark, sf_dir, tmp_path):
    """The actual spark-submit surface, including crash-free rerun."""
    pages_path = str(tmp_path / "pages")
    pages_from_documents(spark, sf_dir).write.parquet(pages_path)
    out = str(tmp_path / "out")

    def run():
        res = subprocess.run(
            [
                sys.executable,
                "jobs/gclog_pipeline.py",
                "--master",
                "local[8]",
                "--input",
                pages_path,
                "--output",
                out,
                "--chunks",
                "4",
            ],
            capture_output=True,
            text=True,
            cwd="/root/repo",
            timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    s1 = run()
    assert s1["chunks_run"] == 4 and s1["events"] > 0
    s2 = run()  # resume path: everything ledgered, nothing re-runs
    assert s2["chunks_run"] == 0
    assert s2["events"] == s1["events"]
    agg = spark.read.parquet(f"{out}/agg")
    assert agg.where(F.col("sink") == "full").count() > 0


@pytest.mark.slow
def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The training-data prep job: filter → dedup clusters → split,
    deterministic across re-runs."""
    out = str(tmp_path / "corpus_out")

    def run():
        res = subprocess.run(
            [
                sys.executable,
                "jobs/corpus_pipeline.py",
                "--master", "local[8]",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", out,
            ],
            capture_output=True,
            text=True,
            cwd="/root/repo",
            timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    s1 = run()
    assert s1["n_input"] == 500
    assert (
        s1["n_input"]
        == s1["n_quality_rejected"] + s1["n_dup_removed"] + s1["n_final"]
    )
    assert s1["n_final"] > 0
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == s1["n_final"]
    assert {"cluster_id", "split"} <= set(corpus.columns)
    # every surviving doc is its own cluster keeper
    assert corpus.where(
        F.col("doc_id") != F.col("cluster_id")
    ).count() == 0
    # deterministic: a re-run reproduces identical stats
    s2 = run()
    assert s2 == s1


@pytest.mark.slow
def test_corpus_pipeline_with_sampling(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus_sampled")
    res = subprocess.run(
        [
            sys.executable, "jobs/corpus_pipeline.py",
            "--master", "local[8]",
            "--input", f"{sf_dir}/documents.parquet",
            "--output", out,
            "--sample", "en=0.5,de=0.25",
            "--sample-default", "0.1",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    s = json.loads(res.stdout.strip().splitlines()[-1])
    assert s["n_sampled_out"] > 0
    assert (
        s["n_input"]
        == s["n_sampled_out"] + s["n_quality_rejected"]
        + s["n_dup_removed"] + s["n_final"]
    )


def test_corpus_pipeline_compact_layout(spark, sf_dir, tmp_path):
    """--compact: same corpus content, but split-partitioned dirs with
    doc_id-clustered files (the maintenance layout)."""
    import glob
    import os

    out = str(tmp_path / "corpus_compacted")
    res = subprocess.run(
        [
            sys.executable,
            "jobs/corpus_pipeline.py",
            "--master", "local[8]",
            "--input", f"{sf_dir}/documents.parquet",
            "--output", out,
            "--compact",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads(res.stdout.strip().splitlines()[-1])

    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == stats["n_final"]
    split_dirs = glob.glob(os.path.join(out, "corpus", "split=*"))
    assert split_dirs
    for d in split_dirs:
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        assert len(files) == 1, (d, files)
        ids = [r["doc_id"] for r in spark.read.parquet(files[0]).collect()]
        assert ids == sorted(ids)


def test_embed_pipeline_outputs_and_determinism(spark, tmp_path):
    """jobs/embed_pipeline.py: int8 serving table + LSH bucket index +
    audit stats; a re-run produces identical assignments."""
    import duckdb

    from jobs.embed_pipeline import run_embed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    s1 = run_embed(spark, emb, out1)
    s2 = run_embed(spark, emb, out2)
    assert s1["n_vecs"] == 500 and s1["n_buckets"] >= 1
    assert s1["worst_rel_err"] < 0.005  # int8 quantization bound ~1/254

    con = duckdb.connect()
    for o, t in [(out1, "a"), (out2, "b")]:
        con.execute(
            f"CREATE VIEW q_{t} AS SELECT * FROM "
            f"read_parquet('{o}/quantized/*.parquet')"
        )
        con.execute(
            f"CREATE VIEW b_{t} AS SELECT * FROM "
            f"read_parquet('{o}/buckets/*.parquet')"
        )
    # serving table is tinyint and byte-identical across runs
    types = dict(
        (r[0], r[1])
        for r in con.execute("DESCRIBE SELECT * FROM q_a").fetchall()
    )
    assert types["qvec"] == "TINYINT[]"
    assert (
        con.execute(
            "SELECT count(*) FROM (SELECT * FROM q_a EXCEPT "
            "SELECT * FROM q_b)"
        ).fetchone()[0]
        == 0
    )
    assert (
        con.execute(
            "SELECT count(*) FROM (SELECT * FROM b_a EXCEPT "
            "SELECT * FROM b_b)"
        ).fetchone()[0]
        == 0
    )


def test_corpus_pipeline_normalize_and_line_dedup(spark, sf_dir, tmp_path):
    """The two text-hygiene stages compose into the job: normalization
    rewrites the text column scan-side, line dedup drops cross-doc
    duplicate lines before the quality gate, and the run stays
    deterministic."""
    from jobs.corpus_pipeline import run_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # give the corpus real lines so the line-dedup stage has work
    lined = docs.withColumn(
        "text",
        F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n"),
    )
    out = str(tmp_path / "c1")
    s1 = run_corpus(
        spark, lined, out, normalize=True, line_dedup_stage=True
    )
    assert s1["n_lines_dropped"] > 0
    assert s1["n_final"] > 0
    # dedup of cross-doc duplicate lines makes former exact-duplicate
    # docs diverge only in the one surviving copy — the corpus text
    # must contain no repeated line at all
    corpus = spark.read.parquet(f"{out}/corpus")
    n_dup_lines = (
        corpus.select(
            F.explode(F.split("text", "\n")).alias("line")
        )
        .where(F.length("line") > 0)
        .groupBy("line")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert n_dup_lines == 0
    # deterministic re-run
    out2 = str(tmp_path / "c2")
    s2 = run_corpus(
        spark, lined, out2, normalize=True, line_dedup_stage=True
    )
    assert s2 == s1


def test_select_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The data-selection job: CC-Net buckets → drop tail → DSIR
    weights → deterministic importance resample; stats reconcile and
    a re-run reproduces identical selections."""
    out = str(tmp_path / "select_out")

    def run():
        res = subprocess.run(
            [
                sys.executable,
                "jobs/select_pipeline.py",
                "--master", "local[8]",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", out,
            ],
            capture_output=True,
            text=True,
            cwd="/root/repo",
            timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    s1 = run()
    assert s1["n_input"] == 500
    assert (
        s1["n_input"]
        == s1["n_tail_dropped"] + s1["n_resampled_out"] + s1["n_selected"]
    )
    # the tail tercile is ~1/3 of each language
    assert 100 <= s1["n_tail_dropped"] <= 230
    assert 0 < s1["n_selected"] < s1["n_input"] - s1["n_tail_dropped"]
    sel = spark.read.parquet(f"{out}/selected")
    assert sel.count() == s1["n_selected"]
    assert {"surprisal", "bucket", "dsir_score"} <= set(sel.columns)
    assert sel.where(F.col("bucket") >= 3).count() == 0
    s2 = run()
    assert s2 == s1


def test_observed_metrics_ride_the_action(spark, sf_dir):
    """df.observe: the pages metrics row materializes as a side effect
    of the consumer's own action — no second scan — and matches an
    explicit recount; under the window stitch the parse-UDF loop the
    narrow stitch shares feeds the event counters."""
    pages = pages_from_documents(spark, sf_dir)
    metrics = PipelineMetrics.create(spark)
    events = build_events(pages, stitch="window", metrics=metrics)
    n = events.count()  # the ONLY action
    snap = metrics.snapshot()
    assert snap["pages"] == pages.count()
    assert snap["events"] == n == parse_events(pages).count()
    assert snap["skipped_blocks"] == 0


def test_tokenize_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """filter → dedup → BPE train → encode → pack, deterministic
    across re-runs and internally reconciled."""
    out = str(tmp_path / "tok_out")

    def run():
        res = subprocess.run(
            [
                sys.executable,
                "jobs/tokenize_pipeline.py",
                "--master", "local[8]",
                "--input", f"{sf_dir}/documents.parquet",
                "--output", out,
            ],
            capture_output=True,
            text=True,
            cwd="/root/repo",
            timeout=600,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    s1 = run()
    assert s1["n_input"] == 500
    assert (
        s1["n_input"]
        == s1["n_filtered_out"] + s1["n_dup_dropped"] + s1["n_trained_on"]
    )
    assert s1["n_merges"] == 8
    assert s1["total_subwords"] > 0 and s1["n_sequences"] > 0

    merges = spark.read.parquet(f"{out}/merges").orderBy("step").collect()
    assert [r["step"] for r in merges] == list(range(1, 9))
    # encoded coverage: one row per trained-on doc with >= 1 subword
    enc = spark.read.parquet(f"{out}/encoded")
    assert enc.count() == s1["n_trained_on"]
    assert enc.where(F.col("n_subwords") <= 0).count() == 0
    # packed spans only reference trained-on docs
    pk = spark.read.parquet(f"{out}/packed")
    assert pk.join(enc, "doc_id", "left_anti").count() == 0

    # deterministic: a re-run reproduces identical stats and merges
    s2 = run()
    assert s2 == s1
    merges2 = spark.read.parquet(f"{out}/merges").orderBy("step").collect()
    assert [tuple(r) for r in merges2] == [tuple(r) for r in merges]
