"""Streaming pipeline == batch pipeline, plus restart/exactly-once
semantics via the streaming checkpoint."""

from __future__ import annotations

import pyspark.sql.functions as F

from gclog_parser_spark.datagen import pages_from_documents
from gclog_parser_spark.operators.aggregate import per_sink_hourly
from gclog_parser_spark.plans.pipeline import build_events
from gclog_parser_spark.streaming.stream import (
    run_fanout_stream,
    run_hourly_stream,
)


def _write_pages_in_slices(spark, sf_dir, path, slices=3):
    pages = pages_from_documents(spark, sf_dir)
    # several files so availableNow processes multiple micro-batch units
    pages.repartition(slices).write.parquet(path)
    return pages


def test_stream_fanout_matches_batch(spark, sf_dir, tmp_path):
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages_in_slices(spark, sf_dir, inp)

    q = run_fanout_stream(spark, inp, out, ckpt)
    q.awaitTermination(300)

    batch = build_events(pages)
    got = spark.read.parquet(out)
    assert got.count() == batch.count()
    want_by_sink = {
        r["sink"]: r["n"]
        for r in batch.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    got_by_sink = {
        r["sink"]: r["n"]
        for r in got.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    assert got_by_sink == want_by_sink

    # restart with same checkpoint: offsets are committed, nothing re-reads
    q2 = run_fanout_stream(spark, inp, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == batch.count()


def test_stream_fanout_replay_is_idempotent(spark, sf_dir, tmp_path):
    """At-least-once replay (crash after the write, before the offset
    commit) must not duplicate rows: delete the last committed offset
    from the checkpoint so the stream re-processes its final batch —
    the (batch_id, sink) dynamic-overwrite write replaces instead of
    appending."""
    import os

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages_in_slices(spark, sf_dir, inp)

    q = run_fanout_stream(spark, inp, out, ckpt)
    q.awaitTermination(300)
    want = build_events(pages).count()
    assert spark.read.parquet(out).count() == want

    # simulate the crash window: last batch's work is on disk but its
    # offset commit is gone → restart replays that batch
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):  # local-FS checksum shadow of the commit
        os.remove(crc)

    q2 = run_fanout_stream(spark, inp, out, ckpt)
    q2.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == want  # replay replaced, did not append
    assert got.select("url", "event_idx").distinct().count() == want


def test_stream_dedup_bounded_state(spark, tmp_path):
    """Cross-micro-batch exact dedup: duplicate texts arriving in later
    files (inside the watermark) are dropped; distinct texts all pass."""
    import datetime as dt

    from gclog_parser_spark.streaming.stream import run_dedup_stream

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [
        (f"http://a/{i}", t0, None, f"text body {i % 4}", "en")
        for i in range(8)  # 4 distinct texts, each duplicated
    ]
    rows2 = [
        # same texts again a few minutes later (inside the watermark)
        (f"http://b/{i}", t0 + dt.timedelta(minutes=5), None,
         f"text body {i % 4}", "en")
        for i in range(4)
    ] + [
        (f"http://c/{i}", t0 + dt.timedelta(minutes=6), None,
         f"fresh text {i}", "en")
        for i in range(3)
    ]
    from gclog_parser_spark.schema import PAGES_SCHEMA

    spark.createDataFrame(rows1, PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(rows2, PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    q = run_dedup_stream(spark, inp, out, ckpt, watermark="1 hour")
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    # 4 distinct dup'd texts + 3 fresh ones
    assert got.count() == 7
    assert got.select("text_hash").distinct().count() == 7


def test_stream_hourly_agg_matches_batch(spark, sf_dir, tmp_path):
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages_in_slices(spark, sf_dir, inp)

    q = run_hourly_stream(spark, inp, ckpt, query_name="t_hourly")
    q.awaitTermination(300)

    got = {
        (r["sink"], r["hour"], r["events"], r["heap_reclaimed_sum"])
        for r in spark.sql("select * from t_hourly").collect()
    }
    batch = per_sink_hourly(build_events(pages), exact=True)
    want = {
        (r["sink"], r["hour"], r["events"], r["heap_reclaimed_sum"])
        for r in batch.select(
            "sink", "hour", "events", "heap_reclaimed_sum"
        ).collect()
    }
    assert got == want


def test_stream_sliding_matches_batch(spark, sf_dir, tmp_path):
    """Sliding-window streaming aggregate == the batch sliding_counts
    operator on the same events replay (overlapping windows assigned
    scan-side; complete mode emits every window on a finite replay)."""
    from gclog_parser_spark.operators.aggregate import sliding_counts
    from gclog_parser_spark.streaming.stream import run_sliding_stream

    inp = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(inp)

    q = run_sliding_stream(spark, inp, ev.schema, ckpt, query_name="t_sliding")
    assert q.awaitTermination(300)

    got = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.sql("select * from t_sliding").collect()
    }
    want = {
        (r["window_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in sliding_counts(
            ev.select("ts", "event_type", "value")
        ).collect()
    }
    assert got == want


def test_stream_attribution_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join == the same
    attribution_join operator run on batch frames: inner-join matches
    are emitted in the micro-batch where both sides are present, so a
    finite replay emits exactly the batch join result."""
    from gclog_parser_spark.streaming.stream import (
        attribution_join,
        run_attribution_stream,
    )

    inp = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(3).write.parquet(inp)

    q = run_attribution_stream(spark, inp, ev.schema, ckpt, query_name="t_attrib")
    assert q.awaitTermination(300)

    cols = ("view_id", "purchase_id", "user_id", "lag_micros", "purchase_value")
    got = {
        tuple(r[c] for c in cols)
        for r in spark.sql("select * from t_attrib").collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in attribution_join(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_sink_into_catalog_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch → catalog appends with batch-id fencing: a replay
    of the last micro-batch (offset commit deleted) is skipped, so the
    table holds each input row exactly once; the consumer side reads
    the appends incrementally."""
    import os

    from gclog_parser_spark.schema import PAGES_SCHEMA
    from gclog_parser_spark.sources import catalog as cat

    inp = str(tmp_path / "pages")
    table = str(tmp_path / "cat_tbl")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages_in_slices(spark, sf_dir, inp)
    want = pages.select("url", "warc_ts", "lang").count()

    def run():
        q = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(inp)
            .select("url", "warc_ts", "lang")
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(cat.streaming_sink(table))
            .start()
        )
        assert q.awaitTermination(300)

    run()
    n_snaps = cat.current_snapshot_id(table)
    assert n_snaps >= 2  # maxFilesPerTrigger forced multiple batches
    assert cat.read_snapshot(spark, table).count() == want

    # crash window: drop the last offset commit → restart replays the
    # final batch; the fence must skip it
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert cat.read_snapshot(spark, table).count() == want
    assert cat.current_snapshot_id(table) == n_snaps  # no new snapshot

    # restart with committed offsets: nothing re-reads, still exact
    run()
    assert cat.read_snapshot(spark, table).count() == want


def test_streaming_fanout_per_sink_catalog_exactly_once(
    spark, sf_dir, tmp_path
):
    """Stream → per-sink catalog tables: every sink's rows land
    exactly once across a forced last-batch replay (per-table batch
    fencing), totals equal the batch fan-out."""
    import os

    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.route import (
        streaming_fanout_sink,
        with_sink,
    )
    from gclog_parser_spark.sources import catalog as cat
    from gclog_parser_spark.streaming.stream import parse_stream, stream_pages

    inp = str(tmp_path / "pages")
    base = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    pages = _write_pages_in_slices(spark, sf_dir, inp)
    want = {
        r["sink"]: r["n"]
        for r in with_sink(parse_events(pages))
        .groupBy("sink")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    def run():
        ev = parse_stream(stream_pages(spark, inp, max_files_per_trigger=2))
        q = (
            ev.writeStream.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(streaming_fanout_sink(base))
            .start()
        )
        assert q.awaitTermination(300)

    run()

    def totals():
        out = {}
        for s in sorted(os.listdir(base)):
            t = os.path.join(base, s)
            if os.path.isdir(os.path.join(t, "metadata")):
                out[s] = cat.read_snapshot(spark, t).count()
        return out

    assert totals() == want

    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()  # replay of the final batch → fenced, no duplicates
    assert totals() == want


def test_cdc_apply_stream_snapshots_and_idempotence(spark, sf_dir, tmp_path):
    """The continuous-MERGE stream commits one snapshot per micro-batch
    (base + 3 = 4, every intermediate state time-travelable), and
    re-applying a batch against the merged state is a no-op — the
    idempotence that makes foreachBatch replay-safe after a mid-commit
    failure."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.cdc import (
        apply_changes,
        latest_snapshot,
    )
    from gclog_parser_spark.sources import catalog as cat
    from gclog_parser_spark.streaming.stream import run_cdc_apply_stream

    base = str(tmp_path / "cdcstream")
    table, inp = f"{base}/tbl", f"{base}/changes"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    split = F.lit("2024-01-08").cast("timestamp")
    cat.snapshot_write(
        latest_snapshot(ev.filter(F.col("ts") < split)), table
    )
    changes = ev.filter(F.col("ts") >= split).withColumn(
        "is_del", F.col("event_type") == "error"
    )
    bounds = [("2024-01-08", "2024-01-15"), ("2024-01-15", "2024-01-22"),
              ("2024-01-22", "2099-01-01")]
    for i, (lo, hi) in enumerate(bounds):
        changes.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        ).coalesce(1).write.parquet(f"{inp}/chunk-{i}")
    q = run_cdc_apply_stream(
        spark, f"{inp}/chunk-*", changes.schema, table, f"{base}/ckpt"
    )
    assert q.awaitTermination(600)
    assert cat.current_snapshot_id(table) == 4  # base + one per batch
    final = cat.read_snapshot(spark, table)
    # a key's full history is visible via time travel
    n_by_snap = [
        cat.read_snapshot(spark, table, snapshot_id=s).count()
        for s in (1, 2, 3, 4)
    ]
    assert n_by_snap[-1] == final.count()
    # idempotence: re-merging the last batch changes nothing
    last_batch = spark.read.parquet(f"{inp}/chunk-2")
    again = apply_changes(final, last_batch, delete_col="is_del")
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, final.collect())
    )


def test_stream_hll_is_stateful_across_batches(spark, sf_dir, tmp_path):
    """The streaming sketch must be built across MULTIPLE micro-batches
    (one file per trigger) and its final register table must equal the
    batch register relation exactly — the max-merge property under
    Spark's own stateful aggregation, not a single-batch fluke."""
    from gclog_parser_spark.operators.aggregate import hll_registers
    from gclog_parser_spark.streaming.stream import run_hll_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    inp = str(tmp_path / "events")
    ev.repartition(5).write.parquet(inp)
    q = run_hll_stream(
        spark, inp, ev.schema, str(tmp_path / "ckpt"),
        query_name="hll_state_test",
    )
    assert q.awaitTermination(600)
    batches = [
        p["batchId"] for p in q.recentProgress if p.get("numInputRows")
    ]
    assert len(set(batches)) >= 5, f"expected >=5 micro-batches: {batches}"
    stream_regs = sorted(
        map(tuple, spark.table("hll_state_test").collect())
    )
    batch_regs = sorted(
        map(
            tuple,
            hll_registers(ev, ["event_type"], "user_id").collect(),
        )
    )
    assert stream_regs == batch_regs


def test_stream_late_audit_drops_and_bounds_state(spark, sf_dir):
    """rel_stream_late: append-mode watermark semantics.  Real drops
    happen (2-batch-late stragglers to closed hours), nothing is ever
    over-counted (n_stream <= n_true hour-for-hour), on-time hours are
    exact, no hour emits twice, and the state-store row count stays
    far below the total distinct-hour count (bounded state — the
    point of the watermark)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["rel_stream_late"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    hours = [r["hour"] for r in rows]
    assert len(hours) == len(set(hours)), "duplicate hour emission"
    assert all(r["n_stream"] <= r["n_true"] for r in rows)
    assert all(
        r["n_late_dropped"] == r["n_true"] - r["n_stream"] for r in rows
    )
    total_dropped = sum(r["n_late_dropped"] for r in rows)
    assert total_dropped > 0, "scenario produced no late drops"
    # most hours have only on-time rows and must be exact
    exact_hours = sum(1 for r in rows if r["n_late_dropped"] == 0)
    assert exact_hours > len(rows) // 2


def test_incremental_dedup_stream_replay(spark, sf_dir, tmp_path):
    """The streaming corpus-maintenance loop: (1) the three-batch
    replay reproduces the greedy sequential verdicts of running
    incremental_dedup by hand batch-by-batch; (2) an at-least-once
    replay of the LAST micro-batch (offset commit deleted) appends
    NOTHING — its former keepers now exact-match their own survivor
    copies, so idempotence holds by construction, no fencing."""
    import os

    from gclog_parser_spark.operators.dedup import incremental_dedup
    from gclog_parser_spark.streaming.stream import (
        run_incremental_dedup_stream,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    inp = str(tmp_path / "batches")
    surv = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)
    batches = [
        docs.where(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{inp}/batch-{i}")

    q = run_incremental_dedup_stream(
        spark, f"{inp}/batch-*", docs.schema, surv, ckpt
    )
    assert q.awaitTermination(300)
    got = {r["doc_id"] for r in spark.read.parquet(surv).collect()}

    # hand-rolled sequential twin
    corpus = spark.createDataFrame([], "doc_id long, text string")
    want = set()
    for b in batches:
        v = incremental_dedup(corpus, b)
        keep = b.join(
            v.where(F.col("keep")).select("doc_id"), "doc_id",
            "left_semi",
        )
        want |= {r["doc_id"] for r in keep.collect()}
        corpus = corpus.unionByName(keep)
    assert got == want and got

    # crash window: replay the last micro-batch
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits")
        if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    q2 = run_incremental_dedup_stream(
        spark, f"{inp}/batch-*", docs.schema, surv, ckpt
    )
    assert q2.awaitTermination(300)
    after = spark.read.parquet(surv)
    assert {r["doc_id"] for r in after.collect()} == want
    assert after.count() == len(want)  # no duplicate appends


def test_incremental_dedup_stream_corrupt_survivors_fails_batch(
    spark, sf_dir, tmp_path
):
    """Round-4 advice regression: only a genuinely-MISSING survivor
    table means "first batch".  A corrupt/unreadable survivor table on
    a later batch must FAIL the micro-batch (so the checkpoint retries
    it) — the old bare-except treated any read failure as first-batch
    and silently deduped against an empty corpus, permanently
    appending duplicates."""
    import os

    from pyspark.errors import StreamingQueryException

    from gclog_parser_spark.streaming.stream import (
        run_incremental_dedup_stream,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    inp = str(tmp_path / "batches")
    surv = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inp)
    docs.where(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(
        f"{inp}/batch-0"
    )
    q = run_incremental_dedup_stream(
        spark, f"{inp}/batch-*", docs.schema, surv, ckpt
    )
    assert q.awaitTermination(300)
    n_before = spark.read.parquet(surv).count()
    assert n_before > 0

    # corrupt the survivor table, then deliver a new batch: the read
    # must raise inside foreachBatch and fail the query, not append
    with open(f"{surv}/part-corrupt.snappy.parquet", "wb") as fh:
        fh.write(b"this is not a parquet file")
    docs.where(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(
        f"{inp}/batch-1"
    )
    q2 = run_incremental_dedup_stream(
        spark, f"{inp}/batch-*", docs.schema, surv, ckpt
    )
    try:
        q2.awaitTermination(300)
        raised = False
    except StreamingQueryException:
        raised = True
    assert raised
    # nothing was committed to the survivor table by the failed batch
    os.remove(f"{surv}/part-corrupt.snappy.parquet")
    assert spark.read.parquet(surv).count() == n_before


def _state_rows_series(q):
    """numRowsTotal per micro-batch from the query's progress log —
    the state-store eviction evidence channel (round-5 ask #7)."""
    out = []
    for p in q.recentProgress:
        ops = p["stateOperators"] if isinstance(p, dict) else None
        if ops is None:
            ops = p.stateOperators  # StreamingQueryProgress object
        if ops:
            out.append(sum(int(o["numRowsTotal"]) for o in ops))
    return out


def _write_hourly_page_batches(spark, inp, n_batches, k=20):
    """One parquet file per batch, event time advancing 1 h/batch,
    k batch-unique texts each; files get strictly increasing mtimes so
    the file source replays them in order (oldest first)."""
    import datetime as dt
    import os
    import time

    from gclog_parser_spark.schema import PAGES_SCHEMA

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    base = time.time() - n_batches * 10
    os.makedirs(inp, exist_ok=True)
    for i in range(n_batches):
        rows = [
            (f"http://b{i}/{j}", t0 + dt.timedelta(hours=i), None,
             f"batch {i} text {j}", "en")
            for j in range(k)
        ]
        d = f"{inp}/batch-{i:03d}"
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))


def test_stream_dedup_state_plateaus_under_longer_replay(
    spark, tmp_path
):
    """State-store EVICTION proof at the operator level (round-5 ask):
    dropDuplicatesWithinWatermark's rows-in-state, read from
    lastProgress.stateOperators, must PLATEAU — a 3× longer replay of
    hour-spaced batches (watermark 30 min) holds no more state than
    the short replay, and far less than the total distinct keys.  A
    plain dropDuplicates would accrete k rows per batch forever."""
    from gclog_parser_spark.streaming.stream import run_dedup_stream

    k, short_b, long_b = 20, 4, 12

    def run(n):
        inp = str(tmp_path / f"pages{n}")
        _write_hourly_page_batches(spark, inp, n, k=k)
        q = run_dedup_stream(
            spark, inp + "/batch-*", str(tmp_path / f"out{n}"),
            str(tmp_path / f"ckpt{n}"), watermark="30 minutes",
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(300)
        series = _state_rows_series(q)
        assert series, "no state metrics in progress log"
        # every batch-unique text must still pass the dedup
        assert (
            spark.read.parquet(str(tmp_path / f"out{n}")).count()
            == n * k
        )
        return series

    s_short = run(short_b)
    s_long = run(long_b)
    # eviction caps state at ~2 batches' keys (current + previous
    # until the next watermark advance), whatever the replay length
    assert max(s_long) <= 2 * k + 2
    assert max(s_long) <= max(s_short) + k
    # and the long replay's FINAL batches hold far less than the
    # accreting alternative (12 batches x 20 keys = 240)
    assert s_long[-1] <= 2 * k + 2 < long_b * k


def test_stream_join_state_plateaus_under_longer_replay(
    spark, sf_dir, tmp_path
):
    """Same eviction pin for the watermarked stream-stream interval
    join: view/purchase state, read from stateOperators, is bounded by
    the lag horizon (max_lag past the watermark), not the replay
    length — 3× more hour-spaced batches, same plateau."""
    import datetime as dt
    import os
    import time

    from gclog_parser_spark.streaming.stream import attribution_join

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    k = 10  # views + purchases per batch
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def write_batches(inp, n):
        base = time.time() - n * 10
        os.makedirs(inp, exist_ok=True)
        for i in range(n):
            # batches 4 h apart: past the 30-minute lag plus the 2-hour
            # watermark, so each batch's state can be evicted
            ts = t0 + dt.timedelta(hours=4 * i)
            rows = []
            for j in range(k):
                rows.append(
                    (i * 1000 + j, ts, j, "view", None, None)
                )
                rows.append(
                    (i * 1000 + 500 + j,
                     ts + dt.timedelta(minutes=5), j, "purchase",
                     float(j), None)
                )
            d = f"{inp}/batch-{i:03d}"
            spark.createDataFrame(rows, ev_schema).coalesce(1).write.parquet(d)
            for root, _, files in os.walk(d):
                for f in files:
                    os.utime(os.path.join(root, f), (base + i, base + i))

    def run(n, name):
        inp = str(tmp_path / f"ev{n}")
        write_batches(inp, n)

        def side(event_type):
            return (
                spark.readStream.schema(ev_schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(inp + "/batch-*")
                .filter(F.col("event_type") == event_type)
            )

        agg = attribution_join(side("view"), side("purchase"))
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"jck{n}"))
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(300)
        # every in-horizon view->purchase pair joins
        assert spark.sql(f"select * from {name}").count() == n * k
        series = _state_rows_series(q)
        assert series
        return series

    s_short = run(2, "t_join_short")
    s_long = run(6, "t_join_long")
    # join state holds both sides' rows inside the lag+watermark
    # horizon: ~2 batches' worth (4k rows) however long the replay
    assert max(s_long) <= 4 * k + 4
    assert max(s_long) <= max(s_short) + 2 * k
    assert s_long[-1] <= 4 * k + 4 < 6 * 2 * k


def test_failed_stream_query_leaves_no_scratch_dir(spark, tmp_path):
    """A contract stream query that raises after making its scratch
    directory leaves nothing in the temp dir outside the per-process
    fixture root (which is removed at exit)."""
    import os
    import tempfile

    import pytest

    import __spark_entry__ as entry

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    with pytest.raises(Exception):
        entry.q_gc_stream_cusum(spark, str(tmp_path / "no_such_sf"))
    left = {
        d for d in set(os.listdir(tmp)) - before
        if d.startswith("gps_") and not d.startswith("gps_fixtures_")
    }
    assert not left
