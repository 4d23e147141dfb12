"""Cross-batch stateful rates: a log split over two micro-batches must
produce the same rates as the reference's single-pass RateCalculator
over the whole log (RateCalculatorTest.scala oracles via
core.calculate_rates)."""

from __future__ import annotations

import time
from collections import Counter
from datetime import datetime

from gclog_parser_spark.core import calculate_rates, parse_log
from gclog_parser_spark.fixtures import fixture_text
from gclog_parser_spark.schema import PAGES_SCHEMA
from gclog_parser_spark.streaming.stateful import stateful_rates
from gclog_parser_spark.streaming.stream import stream_pages


def test_stateful_rates_across_batches(spark, tmp_path):
    text = fixture_text("basic7")
    lines = text.strip().split("\n")
    part1, part2 = "\n".join(lines[:4]), "\n".join(lines[4:])
    url = "tail://app-1/gc.log"
    ts = datetime(2016, 11, 10, 4, 0, 0)

    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    def page(chunk):
        return spark.createDataFrame(
            [(url, ts, None, chunk, "en")], PAGES_SCHEMA
        )

    # two files, written in order → two micro-batches under
    # maxFilesPerTrigger=1 (file source picks up in mod-time order)
    page(part1).write.mode("append").parquet(inp)
    time.sleep(1.1)
    page(part2).write.mode("append").parquet(inp)

    from gclog_parser_spark.operators.parse import parse_events

    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=1),
        require_marker=False,
    )
    q = (
        stateful_rates(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # line_no restarts per page; jvm age is the cross-batch event order
    rows = spark.sql(
        "select * from t_stateful order by jvm_age_seconds"
    ).collect()
    got = [
        (
            r["bytes_allocated_since_last"],
            r["millis_since_last"],
            r["heap_allocation_rate"],
            r["promotion_rate"],
        )
        for r in rows
    ]
    evs = parse_log(text)
    want = [tuple(t) for t in calculate_rates(evs)]
    assert len(got) == 7
    assert got == want


def test_stateful_rates_end_marker_evicts(spark, tmp_path):
    """A log-end marker removes the url's state: a rotated log that
    reuses the url starts rate accounting from scratch (first event
    allocates its own heap_before), exactly like a fresh log."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.parse import parse_events

    text = fixture_text("basic7")
    evs = parse_log(text)
    last_age = evs[-1]["age"]
    url = "tail://app-2/gc.log"

    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    def page(chunk, ts):
        return spark.createDataFrame(
            [(url, ts, None, chunk, "en")], PAGES_SCHEMA
        )

    # batch 1: the whole log (its last event carries the end marker);
    # batch 2: the log again after rotation — same url, fresh state
    page(text, datetime(2016, 11, 10, 4, 0, 0)).write.mode(
        "append"
    ).parquet(inp)
    time.sleep(1.1)
    page(text, datetime(2016, 11, 10, 5, 0, 0)).write.mode(
        "append"
    ).parquet(inp)

    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=1),
        require_marker=False,
    ).withColumn("log_end", F.col("jvm_age_seconds") == last_age)
    q = (
        stateful_rates(stream, end_marker_col="log_end")
        .writeStream.format("memory")
        .queryName("t_evict")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = spark.sql(
        "select * from t_evict order by warc_ts, jvm_age_seconds"
    ).collect()
    got = [
        (
            r["bytes_allocated_since_last"],
            r["millis_since_last"],
            r["heap_allocation_rate"],
            r["promotion_rate"],
        )
        for r in rows
    ]
    want = [tuple(t) for t in calculate_rates(evs)]
    # both halves equal the fresh-log rates — state did NOT leak across
    # the marker (without eviction, replay rates would differ from the
    # first event on)
    assert len(got) == 14
    assert got[:7] == want
    assert got[7:] == want


def _drift_log() -> str:
    """A plain-GC log made for the pause alarms: a 0.8 s pause every
    10 s of JVM age for 300 s, then 0.05 s pauses for 300 s more, so
    the CUSUM (100 ms target, 500 ms threshold) and the SLO pager
    (60 s and 300 s windows) both fire, and the second half drains
    them."""
    return "".join(
        f"{5 + 10 * i}.000: [GC (Allocation Failure)  "
        f"65536K->57255K(251392K), {0.8 if i < 30 else 0.05:.7f} secs]\n"
        for i in range(60)
    )


def test_stateful_cusum_matches_batch_across_batches(spark, tmp_path):
    """The streaming CUSUM (O(1) two-word state per JVM) must emit
    BIT-IDENTICAL rows to the batch window operator when the same log
    arrives split across micro-batches — the swap-batch-for-stream
    guarantee."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.rates import pause_cusum
    from gclog_parser_spark.streaming.stateful import stateful_cusum

    text = _drift_log()
    lines = text.strip().split("\n")
    url = "tail://app-c/gc.log"
    ts = datetime(2016, 11, 10, 4, 0, 0)
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    def page(chunk):
        return spark.createDataFrame(
            [(url, ts, None, chunk, "en")], PAGES_SCHEMA
        )

    page("\n".join(lines[:3])).write.mode("append").parquet(inp)
    time.sleep(1.1)
    page("\n".join(lines[3:])).write.mode("append").parquet(inp)

    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=1),
        require_marker=False,
    )
    q = (
        stateful_cusum(stream)
        .writeStream.format("memory")
        .queryName("t_cusum")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        (r["pause_ticks"], r["cusum_ticks"], r["alarm"])
        for r in spark.sql("select * from t_cusum").collect()
    )

    # batch twin over the SAME cross-batch event order: jvm age is the
    # order (line_no/event_idx restart per page), so re-index by it
    whole = parse_events(
        page(text).withColumnRenamed("html", "html"), stitch="narrow",
        require_marker=False,
    )
    from pyspark.sql import Window

    reordered = whole.withColumn(
        "event_idx",
        F.row_number().over(
            Window.partitionBy("url").orderBy("jvm_age_seconds", "line_no")
        ),
    )
    want = sorted(
        (r["pause_ticks"], r["cusum_ticks"], r["alarm"])
        for r in pause_cusum(reordered).collect()
    )
    assert got == want and got
    # the fixture's big pauses actually trip the alarm at this target
    assert any(a for _, _, a in got)


def test_stateful_slo_burn_matches_batch_across_batches(spark, tmp_path):
    """The streaming SLO pager (state = the one OPEN long window per
    JVM) must emit value-identical rows to the batch window operator
    when the same log arrives split across micro-batches; the final
    open window flushes on the end marker, which also evicts state."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.rates import slo_burn
    from gclog_parser_spark.streaming.stateful import stateful_slo_burn

    text = _drift_log()
    lines = text.strip().split("\n")
    url = "tail://app-s/gc.log"
    ts = datetime(2016, 11, 10, 4, 0, 0)
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    def page(chunk):
        return spark.createDataFrame(
            [(url, ts, None, chunk, "en")], PAGES_SCHEMA
        )

    page("\n".join(lines[:3])).write.mode("append").parquet(inp)
    time.sleep(1.1)
    page("\n".join(lines[3:])).write.mode("append").parquet(inp)

    evs = parse_log(text)
    last_age = evs[-1]["age"]
    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=1),
        require_marker=False,
    ).withColumn("log_end", F.col("jvm_age_seconds") == last_age)
    q = (
        stateful_slo_burn(stream, end_marker_col="log_end")
        .writeStream.format("memory")
        .queryName("t_slo")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        (
            r["run_id"], r["win_start_s"], r["ticks_short"],
            r["ticks_long"], r["burn_short"], r["burn_long"], r["alarm"],
        )
        for r in spark.sql("select * from t_slo").collect()
    )

    # batch twin over the SAME cross-batch event order (event_idx
    # restarts per page, so re-index by jvm age like the cusum test)
    from pyspark.sql import Window

    whole = parse_events(page(text), stitch="narrow", require_marker=False)
    reordered = whole.withColumn(
        "event_idx",
        F.row_number().over(
            Window.partitionBy("url").orderBy("jvm_age_seconds", "line_no")
        ),
    )
    want = sorted(
        (
            r["run_id"], r["win_start_s"], r["ticks_short"],
            r["ticks_long"], r["burn_short"], r["burn_long"], r["alarm"],
        )
        for r in slo_burn(reordered).collect()
    )
    assert got == want and got
    # windows from BOTH batches appear, and the big fixture pauses
    # page at the default 1.0x threshold somewhere
    assert any(a for *_, a in got)


def test_stateful_jitter_final_snapshot_matches_batch(spark, tmp_path):
    """A log split across two micro-batches emits a cumulative snapshot
    per batch; the FINAL snapshot must be value-identical to the batch
    pause_jitter over the whole log (the nightly-scan ⇄ dashboard swap
    guarantee for second moments)."""
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.rates import pause_jitter
    from gclog_parser_spark.streaming.stateful import stateful_jitter

    text = fixture_text("basic8")
    lines = text.strip().split("\n")
    url = "tail://app-j/gc.log"
    ts = datetime(2016, 11, 10, 4, 0, 0)
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    def page(chunk):
        return spark.createDataFrame(
            [(url, ts, None, chunk, "en")], PAGES_SCHEMA
        )

    # split at line 8: the head yields 2 timed pauses, the tail 5 —
    # both micro-batches then emit a snapshot
    page("\n".join(lines[:8])).write.mode("append").parquet(inp)
    time.sleep(1.1)
    page("\n".join(lines[8:])).write.mode("append").parquet(inp)

    stream = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=1),
        require_marker=False,
    )
    q = (
        stateful_jitter(stream)
        .writeStream.format("memory")
        .queryName("t_jitter")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    snaps = spark.sql("select * from t_jitter").collect()
    # one snapshot per batch that carried timed pauses, cumulative n
    assert len(snaps) >= 2
    final = max(snaps, key=lambda r: r["n_pauses"])

    whole = parse_events(
        page(text), stitch="narrow", require_marker=False
    )
    want = pause_jitter(whole).collect()
    assert len(want) == 1
    w = want[0]
    assert final["n_pauses"] == w["n_pauses"]
    assert final["mean_pause_ms"] == w["mean_pause_ms"]
    assert final["var_pause_ms2"] == w["var_pause_ms2"]
    assert final["stddev_pause_ms"] == w["stddev_pause_ms"]
    # intermediate snapshot is a strict prefix (fewer pauses)
    assert min(r["n_pauses"] for r in snaps) < w["n_pauses"]


def test_stateful_jitter_end_marker_evicts(spark, tmp_path):
    """A log-end marker removes the JVM's three-word state: a rotated
    log reusing the url restarts jitter accounting from scratch (the
    second run's snapshot counts ONLY its own pauses), exactly like a
    fresh log — while without eviction the counts would accumulate.
    The CUSUM twin's two-word state evicts the same way."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.streaming.stateful import (
        stateful_cusum,
        stateful_jitter,
    )

    text = fixture_text("basic8")
    url = "tail://app-j2/gc.log"
    inp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    def page(ts):
        return spark.createDataFrame(
            [(url, ts, None, text, "en")], PAGES_SCHEMA
        )

    page(datetime(2016, 11, 10, 4, 0, 0)).write.mode("append").parquet(inp)
    time.sleep(1.1)
    page(datetime(2016, 11, 10, 5, 0, 0)).write.mode("append").parquet(inp)

    parsed = parse_events(
        stream_pages(spark, inp, max_files_per_trigger=1),
        require_marker=False,
    )
    last_age = (
        parse_events(page(datetime(2016, 11, 10, 4)), stitch="narrow",
                     require_marker=False)
        .agg(F.max("jvm_age_seconds")).first()[0]
    )
    stream = parsed.withColumn(
        "log_end", F.col("jvm_age_seconds") == last_age
    )
    # the log ends with its CUSUM above zero, so a carried state would
    # lift every second-run row above its first-run twin
    for name, twin in (
        ("t_jitter_evict", stateful_jitter),
        ("t_cusum_evict", stateful_cusum),
    ):
        q = (
            twin(stream, end_marker_col="log_end")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{ckpt}/{name}")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
    snaps = spark.sql("select * from t_jitter_evict").collect()
    # two batches, one snapshot each; eviction means the second run
    # re-counts from zero -> both snapshots identical
    assert len(snaps) == 2
    assert snaps[0]["n_pauses"] == snaps[1]["n_pauses"]
    assert snaps[0]["mean_pause_ms"] == snaps[1]["mean_pause_ms"]
    assert snaps[0]["var_pause_ms2"] == snaps[1]["var_pause_ms2"]
    # CUSUM: each run emits the same (event_idx, ticks, cusum) rows
    cusum = Counter(
        tuple(r) for r in spark.sql("select * from t_cusum_evict").collect()
    )
    assert cusum and set(cusum.values()) == {2}


def test_stateful_cusum_rounds_half_tick_pauses_like_batch(spark, tmp_path):
    """Pauses whose tick product is an exact half (0.5, 1.5, 2.5 ticks)
    round HALF_UP in the streaming twin as in the batch operator: ticks
    1, 2, 3 (half-to-even would give 0, 2, 2)."""
    from gclog_parser_spark.operators.rates import pause_cusum
    from gclog_parser_spark.streaming.stateful import stateful_cusum

    schema = "url string, event_idx int, pause_seconds double"
    events = spark.createDataFrame(
        [("u", i, p) for i, p in enumerate([5e-08, 1.5e-07, 2.5e-07])],
        schema,
    )
    inp = str(tmp_path / "events")
    events.write.parquet(inp)
    q = (
        stateful_cusum(spark.readStream.schema(schema).parquet(inp))
        .writeStream.format("memory")
        .queryName("t_cusum_half")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.sql("select * from t_cusum_half")
                 .collect())
    want = sorted(tuple(r) for r in pause_cusum(events).collect())
    assert got == want
    assert [r[2] for r in got] == [1, 2, 3]
