"""Snapshot-catalog (Iceberg-shaped table format) behavior:
append/overwrite commits, time travel, incremental reads, optimistic
concurrency, stats-based file skipping, and snapshot expiry."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gclog_parser_spark.sources import catalog as cat


@pytest.fixture()
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _mk_table(tmp_path, events, n=3):
    table = str(tmp_path / "tbl")
    snaps = []
    for i in range(n):
        part = events.filter(F.col("event_id") % n == i)
        snaps.append(cat.snapshot_write(part, table, mode="append"))
    return table, snaps


def test_append_history_and_time_travel(spark, tmp_path, events):
    table, snaps = _mk_table(tmp_path, events)
    assert [s.snapshot_id for s in snaps] == [1, 2, 3]
    total = events.count()

    hist = {
        r["snapshot_id"]: r
        for r in cat.table_history(spark, table).collect()
    }
    assert hist[3]["is_current"] and not hist[1]["is_current"]
    assert hist[3]["total_rows"] == total

    # time travel: snapshot k holds exactly event_id % 3 in 0..k-1
    for k in (1, 2, 3):
        got = cat.read_snapshot(spark, table, k)
        want = events.filter(F.col("event_id") % 3 < k)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
    # default read = current
    assert cat.read_snapshot(spark, table).count() == total


def test_incremental_read_is_the_append_diff(spark, tmp_path, events):
    table, _ = _mk_table(tmp_path, events)
    inc = cat.incremental_read(spark, table, from_snapshot=1, to_snapshot=3)
    want = events.filter(F.col("event_id") % 3 >= 1)
    assert inc.count() == want.count()
    assert inc.exceptAll(want).count() == 0
    # from == to → empty, schema preserved
    empty = cat.incremental_read(spark, table, 3, 3)
    assert empty.count() == 0
    assert empty.columns == events.columns


def test_overwrite_resets_and_blocks_incremental(spark, tmp_path, events):
    table, _ = _mk_table(tmp_path, events)
    small = events.limit(10)
    s4 = cat.snapshot_write(small, table, mode="overwrite")
    assert s4.operation == "overwrite"
    assert cat.read_snapshot(spark, table).count() == 10
    # time travel across the overwrite still works
    assert cat.read_snapshot(spark, table, 3).count() == events.count()
    with pytest.raises(ValueError, match="overwrite"):
        cat.incremental_read(spark, table, 2, 4)


def test_optimistic_commit_rebases_on_conflict(
    spark, tmp_path, events, monkeypatch
):
    """The loser of the O_EXCL race must rebase on the winner's
    snapshot and retry: simulate by serving ONE stale parent read, so
    the first create hits an existing version file."""
    table, _ = _mk_table(tmp_path, events, n=2)  # v1, v2
    real = cat.current_snapshot_id
    calls = {"n": 0}

    def stale_once(t):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(t)

    monkeypatch.setattr(cat, "current_snapshot_id", stale_once)
    s = cat.snapshot_write(events.limit(5), table, mode="append")
    assert calls["n"] >= 2  # retry actually happened
    assert s.snapshot_id == 3
    assert cat.manifest_paths(cat.load_snapshot(table, 2)) < cat.manifest_paths(s)
    assert cat.read_snapshot(spark, table).count() == events.count() + 5


def test_file_skipping_prunes_disjoint_ranges(spark, tmp_path, events):
    """Range-clustered commits → footer min/max skips whole files, and
    the pruned result equals the plain filtered scan."""
    table = str(tmp_path / "ranged")
    for lo in range(0, 1000, 250):
        part = events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < lo + 250)
        ).coalesce(1)
        cat.snapshot_write(part, table, mode="append")
    df, rep = cat.scan_with_pruning(spark, table, "event_id", 260, 490)
    assert rep["files_total"] >= 4
    assert rep["files_scanned"] < rep["files_total"]
    want = events.filter(F.col("event_id").between(260, 490))
    assert df.count() == want.count()
    assert df.exceptAll(want).count() == 0
    # fully-outside range scans zero files but keeps the schema
    df0, rep0 = cat.scan_with_pruning(
        spark, table, "event_id", 10**9, 2 * 10**9
    )
    assert rep0["files_scanned"] == 0 and df0.count() == 0
    assert df0.columns == events.columns


def test_manifest_stats_match_footers(spark, tmp_path, events):
    table, _ = _mk_table(tmp_path, events, n=1)
    snap = cat.load_snapshot(table)
    entries = cat._manifest_files(table, snap)
    assert sum(e["rows"] for e in entries) == events.count()
    mn = min(cat._dec(e["columns"]["event_id"]["min"]) for e in entries)
    mx = max(cat._dec(e["columns"]["event_id"]["max"]) for e in entries)
    agg = events.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    assert (mn, mx) == (agg["mn"], agg["mx"])
    # manifest JSON round-trips timestamp stats typed
    ts = next(iter(entries))["columns"]["ts"]
    assert hasattr(cat._dec(ts["min"]), "isoformat")


def test_expire_snapshots_collects_unreferenced(spark, tmp_path, events):
    table, _ = _mk_table(tmp_path, events)
    cat.snapshot_write(events.limit(10), table, mode="overwrite")  # v4
    removed = cat.expire_snapshots(table, keep_last=1)
    assert removed["snapshots_removed"] == 3
    assert removed["data_files_removed"] > 0
    # current still reads; expired time travel is a clear error
    assert cat.read_snapshot(spark, table).count() == 10
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_snapshot(spark, table, 2)
    # metadata dir holds exactly one snapshot + its manifests
    meta = os.path.join(table, "metadata")
    vs = [f for f in os.listdir(meta) if f.startswith("v")]
    assert vs == ["v4.json"]
    live = cat.manifest_paths(cat.load_snapshot(table))
    ms = {
        os.path.join("metadata", f)
        for f in os.listdir(meta)
        if f.startswith("m-")
    }
    assert ms == live


def test_commit_is_crash_safe_orphan(spark, tmp_path, events):
    """Files written but never committed (crash before metadata swap)
    are invisible to readers and collected by expire."""
    table, _ = _mk_table(tmp_path, events, n=1)
    orphan_dir = os.path.join(table, "data", "commit-orphan")
    events.limit(3).write.parquet(orphan_dir)
    assert cat.read_snapshot(spark, table).count() == events.count()
    removed = cat.expire_snapshots(table, keep_last=1)
    assert removed["data_files_removed"] >= 1
    assert not os.path.exists(orphan_dir)
    assert cat.read_snapshot(spark, table).count() == events.count()


def test_wap_stage_audit_publish(spark, tmp_path, events):
    """Write-audit-publish: staged data is invisible, publish is an
    O(1) metadata commit, abort removes the staged files."""
    table = str(tmp_path / "wap")
    cat.snapshot_write(events.filter(F.col("event_id") % 2 == 0), table)
    base_count = cat.read_snapshot(spark, table).count()

    # stage bad data (nulls) → audit fails → abort; table unchanged
    bad = events.limit(20).withColumn("user_id", F.lit(None).cast("long"))
    tok_bad = cat.stage_write(bad, table)
    staged = cat.read_staged(spark, table, tok_bad)
    nulls = staged.filter(F.col("user_id").isNull()).count()
    assert nulls == 20  # the audit that fails
    assert cat.read_snapshot(spark, table).count() == base_count
    removed = cat.abort_staged(table, tok_bad)
    assert removed >= 1
    assert not os.path.exists(os.path.join(table, tok_bad))
    assert cat.read_snapshot(spark, table).count() == base_count

    # stage good data → audit passes → publish appends atomically
    good = events.filter(F.col("event_id") % 2 == 1)
    tok = cat.stage_write(good, table)
    assert cat.read_snapshot(spark, table).count() == base_count
    snap = cat.publish_staged(table, tok)
    assert snap.summary["wap"] is True
    assert cat.read_snapshot(spark, table).count() == events.count()
    # incremental read sees exactly the published batch
    inc = cat.incremental_read(spark, table, snap.parent_id, snap.snapshot_id)
    assert inc.count() == good.count()


def test_wap_crashed_stage_is_collected(spark, tmp_path, events):
    table = str(tmp_path / "wapcrash")
    cat.snapshot_write(events.limit(50), table)
    cat.stage_write(events.limit(5), table)  # never published/aborted
    assert cat.read_snapshot(spark, table).count() == 50
    removed = cat.expire_snapshots(table, keep_last=1)
    assert removed["data_files_removed"] >= 1
    assert removed["manifests_removed"] >= 1
    assert cat.read_snapshot(spark, table).count() == 50


def test_equality_delete_merge_on_read(spark, tmp_path, events):
    """Iceberg-v2 equality deletes: no data rewrite, sequence-number
    semantics (later re-inserts survive), time travel unaffected,
    rewrite_compact materializes the state away."""
    table = str(tmp_path / "mor")
    cat.snapshot_write(events, table)  # v1: all rows
    kill = spark.createDataFrame([(0,), (1,), (2,)], "user_id bigint")
    d = cat.equality_delete(kill, table, ["user_id"])  # v2
    assert d.operation == "eqdelete" and d.summary["delete_keys"] == 3

    survivors = events.filter(~F.col("user_id").isin(0, 1, 2))
    got = cat.read_snapshot(spark, table)
    assert got.count() == survivors.count()
    assert got.exceptAll(survivors).count() == 0
    # time travel to v1 still sees everything
    assert cat.read_snapshot(spark, table, 1).count() == events.count()

    # sequence rule: rows for a deleted key appended AFTER the delete
    # are visible (the delete's seq is smaller)
    reinsert = events.filter(F.col("user_id") == 1).limit(7)
    n_re = reinsert.count()
    cat.snapshot_write(reinsert, table)  # v3
    got3 = cat.read_snapshot(spark, table)
    assert got3.count() == survivors.count() + n_re
    assert got3.filter(F.col("user_id") == 1).count() == n_re

    # pruned scans apply the deletes too
    df, _ = cat.scan_with_pruning(spark, table, "user_id", 0, 2)
    assert df.count() == n_re  # only the re-inserted user-1 rows

    # rewrite materializes; expire collects the delete files
    cat.rewrite_compact(spark, table)  # v4
    plain = cat.read_snapshot(spark, table)
    assert plain.count() == survivors.count() + n_re
    removed = cat.expire_snapshots(table, keep_last=1)
    assert removed["snapshots_removed"] == 3
    assert cat.read_snapshot(spark, table).count() == survivors.count() + n_re


def test_equality_delete_composite_key(spark, tmp_path, events):
    table = str(tmp_path / "mor2")
    cat.snapshot_write(events, table)
    kill = events.filter(F.col("event_id") % 100 == 0).select(
        "user_id", "event_type"
    )
    cat.equality_delete(kill, table, ["user_id", "event_type"])
    pairs = [(r["user_id"], r["event_type"]) for r in kill.distinct().collect()]
    got = cat.read_snapshot(spark, table)
    want = events.join(
        kill.distinct(), on=["user_id", "event_type"], how="left_anti"
    ).select(*events.columns)
    assert got.count() == want.count()
    assert got.select(*events.columns).exceptAll(want).count() == 0
    assert len(pairs) > 0


def test_incremental_consumer_replay_and_advance(spark, tmp_path, events):
    """CDC consumer loop: bootstrap reads everything, a crash before
    commit replays the identical batch, commit advances, appends are
    delivered once, caught-up polls return None."""
    table = str(tmp_path / "feed")
    cursor = str(tmp_path / "state" / "cursor.json")
    first = events.filter(F.col("event_id") % 3 == 0)
    cat.snapshot_write(first, table)

    c = cat.IncrementalConsumer(table, cursor)
    df, frm, to = c.poll(spark)
    assert (frm, to) == (0, 1) and df.count() == first.count()
    # crash before commit → identical replay
    df2, frm2, to2 = c.poll(spark)
    assert (frm2, to2) == (0, 1) and df2.count() == first.count()
    c.commit(to2)

    # caught up
    none_df, p, q = c.poll(spark)
    assert none_df is None and p == q == 1

    # two appends → one batch covering both
    second = events.filter(F.col("event_id") % 3 == 1)
    third = events.filter(F.col("event_id") % 3 == 2)
    cat.snapshot_write(second, table)
    cat.snapshot_write(third, table)
    df3, frm3, to3 = c.poll(spark)
    assert (frm3, to3) == (1, 3)
    assert df3.count() == second.count() + third.count()
    want = second.unionByName(third)
    assert df3.exceptAll(want).count() == 0
    c.commit(to3)
    assert c.poll(spark)[0] is None

    # a new consumer with its own cursor bootstraps the full table
    c2 = cat.IncrementalConsumer(table, str(tmp_path / "c2.json"))
    dfb, _, tob = c2.poll(spark)
    assert dfb.count() == events.count() and tob == 3

    # an overwrite inside the unconsumed range forces re-bootstrap
    cat.snapshot_write(events.limit(5), table, mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        c.poll(spark)


def test_maintenance_job_zorder_and_expire(spark, tmp_path, events):
    """The housekeeping job: MoR deletes + small appends in, one
    z-ordered overwrite + expiry out; content identical, both zorder
    columns prune afterwards."""
    from jobs.table_maintenance import run_maintenance

    table = str(tmp_path / "mx")
    for i in range(4):
        cat.snapshot_write(events.filter(F.col("event_id") % 4 == i), table)
    kill = spark.createDataFrame([(9,), (10,)], "user_id bigint")
    cat.equality_delete(kill, table, ["user_id"])
    want = events.filter(~F.col("user_id").isin(9, 10))

    report = run_maintenance(
        spark, table, zorder=["event_id", "user_id"], expire_keep=1
    )
    assert [a["op"] for a in report["actions"]] == ["zorder", "expire"]
    assert report["snapshot_after"] == 6
    assert report["total_rows"] == want.count()

    got = cat.read_snapshot(spark, table)
    assert got.count() == want.count()
    assert got.select(*events.columns).exceptAll(want).count() == 0
    # expiry kept exactly one snapshot; deletes were materialized away
    meta = os.path.join(table, "metadata")
    assert [f for f in os.listdir(meta) if f.startswith("v")] == ["v6.json"]
    _, dels = cat._split_entries(table, cat.load_snapshot(table))
    assert dels == []
    # both zorder columns prune files now
    _, rep_e = cat.scan_with_pruning(spark, table, "event_id", 0, 99)
    _, rep_u = cat.scan_with_pruning(spark, table, "user_id", 0, 2)
    assert rep_e["files_scanned"] < rep_e["files_total"]
    assert rep_u["files_scanned"] < rep_u["files_total"]


def test_schema_evolution_add_widen_drop(spark, tmp_path):
    """Schema evolution on read: files written before an added column
    read as typed NULLs, int→long widens, a dropped column vanishes —
    the newest data commit's schema wins (Iceberg metadata-schema
    semantics)."""
    table = str(tmp_path / "evo")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id bigint, name string, old int"
    )
    cat.snapshot_write(v1, table)
    # evolution: +score column, old dropped, id stays
    v2 = spark.createDataFrame(
        [(3, "c", 1.5), (4, "d", 2.5)],
        "id bigint, name string, score double",
    )
    cat.snapshot_write(v2, table)

    got = cat.read_snapshot(spark, table)
    assert got.columns == ["id", "name", "score"]
    rows = {r["id"]: r for r in got.collect()}
    assert len(rows) == 4
    assert rows[1]["score"] is None and rows[3]["score"] == 1.5

    # widening: append int ids after long ids declared? inverse —
    # newest schema has long id already; now commit an int-id frame
    v3 = spark.createDataFrame([(5, "e", 9.9)], "id int, name string, score double")
    cat.snapshot_write(v3, table)
    got3 = cat.read_snapshot(spark, table)
    assert dict(got3.dtypes)["id"] == "int"  # newest commit's schema wins
    assert got3.count() == 5

    # time travel still shows the original shape
    assert cat.read_snapshot(spark, table, 1).columns == ["id", "name", "old"]

    # pruned scan returns the evolved schema too
    df, _ = cat.scan_with_pruning(spark, table, "id", 3, 4)
    assert df.columns == ["id", "name", "score"]
    assert df.count() == 2


def test_tags_and_files_metadata_table(spark, tmp_path, events):
    table = str(tmp_path / "tbl")
    for i in range(3):
        part = events.filter(F.col("event_id") % 3 == i)
        cat.snapshot_write(part, table, mode="append")
        if i == 0:
            cat.create_tag(table, "v1-release")  # current: snapshot 1
    cat.create_tag(table, "latest")
    assert cat.read_refs(table) == {"v1-release": 1, "latest": 3}
    assert cat.read_tag(spark, table, "v1-release").count() == (
        events.filter(F.col("event_id") % 3 == 0).count()
    )
    assert cat.read_tag(spark, table, "latest").count() == events.count()
    with pytest.raises(KeyError, match="no tag"):
        cat.read_tag(spark, table, "nope")
    with pytest.raises(FileNotFoundError):
        cat.create_tag(str(tmp_path / "no_such_table"), "bad")

    files = cat.table_files(spark, table)
    assert files.filter(F.col("kind") == "data").count() == files.count()
    total = files.agg(F.sum("rows")).first()[0]
    assert total == events.count()
    # seq matches the committing snapshot
    assert {r["seq"] for r in files.collect()} == {1, 2, 3}


def test_fanout_commit_catalog_per_sink_tables(spark, sf_dir, tmp_path):
    """North-rule fan-out: one partitioned data pass, then per-sink
    metadata-only commits; each sink table reads back exactly its
    routed rows, and a second run appends as snapshot 2."""
    from gclog_parser_spark.datagen import pages_from_documents
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.route import (
        fanout_commit_catalog,
        with_sink,
    )

    events = with_sink(parse_events(pages_from_documents(spark, sf_dir)))
    base = str(tmp_path / "sinks")
    committed = fanout_commit_catalog(events, base)
    want = {
        r["sink"]: r["n"]
        for r in events.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    assert set(committed) == set(want)
    assert all(v == 1 for v in committed.values())
    for sink, n in want.items():
        table = os.path.join(base, sink)
        got = cat.read_snapshot(spark, table)
        assert got.count() == n
        assert "sink" not in got.columns  # partition col lives in routing
    assert not os.path.exists(os.path.join(base, "_staging"))

    # second run: append snapshots, counts double
    committed2 = fanout_commit_catalog(events, base)
    assert all(v == 2 for v in committed2.values())
    some = next(iter(want))
    assert (
        cat.read_snapshot(spark, os.path.join(base, some)).count()
        == 2 * want[some]
    )
    # incremental read sees exactly the second batch
    inc = cat.incremental_read(spark, os.path.join(base, some), 1, 2)
    assert inc.count() == want[some]


def test_catalog_model_based_random_ops(spark, tmp_path):
    """Model-based consistency: a seeded pseudo-random interleaving of
    append / overwrite / equality-delete / compact / tag ops runs
    against BOTH the real catalog and a 40-line pure-Python model of
    the spec (sequence-rule deletes included); after every op the
    current-snapshot multiset must match the model, and at the end
    every still-live historical snapshot must replay exactly."""
    import random

    rng = random.Random(20260817)
    table = str(tmp_path / "model")

    def mk(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "k bigint, v bigint"
        )

    model = []          # list of (k, v, seq)
    history = {}        # sid -> frozen multiset of (k, v)
    next_id = [0]

    def fresh_rows(n):
        out = []
        for _ in range(n):
            next_id[0] += 1
            out.append((next_id[0] % 7, next_id[0]))
        return out

    ops_run = []
    for step in range(24):
        op = rng.choice(["append", "append", "append", "delete",
                         "overwrite", "compact"])
        if cat.current_snapshot_id(table) is None:
            op = "append"
        if op == "append":
            rows = fresh_rows(rng.randint(1, 5))
            s = cat.snapshot_write(mk(rows), table)
            model.extend((k, v, s.snapshot_id) for k, v in rows)
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 4))
            s = cat.snapshot_write(mk(rows), table, mode="overwrite")
            model.clear()
            model.extend((k, v, s.snapshot_id) for k, v in rows)
        elif op == "delete":
            key = rng.randint(0, 6)
            s = cat.equality_delete(
                spark.createDataFrame([(key,)], "k bigint"), table, ["k"]
            )
            model[:] = [
                (k, v, q) for (k, v, q) in model
                if not (k == key and q < s.snapshot_id)
            ]
        else:  # compact
            s = cat.rewrite_compact(spark, table)
            model[:] = [(k, v, s.snapshot_id) for (k, v, _) in model]
        ops_run.append(op)
        history[s.snapshot_id] = sorted((k, v) for (k, v, _) in model)
        got = sorted(
            (r["k"], r["v"])
            for r in cat.read_snapshot(spark, table).collect()
        )
        assert got == history[s.snapshot_id], f"step {step} op {op}"

    # every historical snapshot still replays exactly
    for sid, want in history.items():
        got = sorted(
            (r["k"], r["v"])
            for r in cat.read_snapshot(spark, table, sid).collect()
        )
        assert got == want, f"snapshot {sid}"
    # coverage sanity: the op mix actually exercised the variants
    assert {"append", "delete"} <= set(ops_run)


def test_fanout_crash_mid_commit_resumes_with_fence(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash after SOME sinks committed: re-running the same fenced
    batch commits only the sinks that missed it — per-table
    exactly-once across the partial-failure window; the crashed run's
    staging leftovers are invisible and vacuumable."""
    from gclog_parser_spark.datagen import pages_from_documents
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.route import (
        fanout_commit_catalog,
        with_sink,
    )

    events = with_sink(parse_events(pages_from_documents(spark, sf_dir)))
    base = str(tmp_path / "sinks")
    want = {
        r["sink"]: r["n"]
        for r in events.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }

    real = cat.commit_existing_files
    calls = {"n": 0}

    def crash_on_third(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated crash mid-fanout")
        return real(*a, **kw)

    # route imports the catalog module inside the function, so patching
    # the module attribute intercepts its calls too
    monkeypatch.setattr(cat, "commit_existing_files", crash_on_third)
    with pytest.raises(RuntimeError, match="simulated"):
        fanout_commit_catalog(events, base, fence_id=7)
    monkeypatch.setattr(cat, "commit_existing_files", real)

    committed_tables = {
        s for s in os.listdir(base)
        if s != "_staging"
        and os.path.isdir(os.path.join(base, s, "metadata"))
        and cat.current_snapshot_id(os.path.join(base, s)) is not None
    }
    assert 0 < len(committed_tables) < len(want)  # genuinely partial

    # replay the SAME fenced batch: only the missing sinks commit
    redo = fanout_commit_catalog(events, base, fence_id=7)
    assert set(redo) == set(want) - committed_tables
    for sink, n in want.items():
        t = os.path.join(base, sink)
        assert cat.read_snapshot(spark, t).count() == n
        assert cat.current_snapshot_id(t) == 1  # exactly one commit each


def _crash_on_snapshot_writes(monkeypatch):
    """Make every write-mode ``open`` of a snapshot file ``v<N>.json``,
    or of the temporary file it is published from, raise, as a crash at
    that point of a commit would."""
    import builtins

    real_open = builtins.open

    def crashing_open(file, mode="r", *a, **kw):
        name = os.path.basename(str(file))
        if (
            set(mode) & set("wax+")
            and name.startswith("v")
            and ".json" in name
        ):
            raise OSError(f"simulated crash writing {name}")
        return real_open(file, mode, *a, **kw)

    monkeypatch.setattr(builtins, "open", crashing_open)


def test_streaming_sink_fence_survives_commit_crash(
    spark, tmp_path, monkeypatch
):
    """Batch 1 crashes in its commit, and Structured Streaming replays
    it (its offset was never committed): the table must hold batch 1
    exactly once.  A fence written by a second write after the commit
    is lost in that crash, and the replay appends the batch again."""
    table = str(tmp_path / "fenced")
    sink = cat.streaming_sink(table)

    def batch(i):
        return spark.createDataFrame([(i, 0), (i, 1)], "batch int, k int")

    sink(batch(0), 0)
    with monkeypatch.context() as m, pytest.raises(OSError):
        _crash_on_snapshot_writes(m)
        sink(batch(1), 1)
    sink(batch(1), 1)  # the replay
    assert cat.read_snapshot(spark, table).count() == 4
    assert cat.current_snapshot_id(table) == 2
    assert cat.load_snapshot(table).summary["stream_batch_id"] == 1


def test_streaming_fanout_fence_survives_commit_crash(
    spark, tmp_path, monkeypatch
):
    """The per-sink twin: batch 1 crashes in its first sink's commit,
    then the replay must leave every sink table with each of its rows
    exactly once."""
    from gclog_parser_spark.operators.route import streaming_fanout_sink

    base = str(tmp_path / "sinks")
    sink = streaming_fanout_sink(base)

    def batch(i):
        return spark.createDataFrame(
            [(i, "G1"), (i, "G1"), (i, "ZGC")], "batch int, family string"
        )

    sink(batch(0), 0)
    with monkeypatch.context() as m, pytest.raises(OSError):
        _crash_on_snapshot_writes(m)
        sink(batch(1), 1)
    sink(batch(1), 1)  # the replay
    got = {
        s: cat.read_snapshot(spark, os.path.join(base, s)).count()
        for s in ("G1", "ZGC")
    }
    assert got == {"G1": 4, "ZGC": 2}


def test_snapshot_publish_survives_crash_mid_write(
    spark, tmp_path, events, monkeypatch
):
    """A crash while a commit writes its snapshot JSON publishes
    nothing: the table stays at its parent, readable, and the next
    commit takes the same id.  An exclusive create followed by a
    separate write leaves an empty ``v<N>.json`` behind, which then
    names the current snapshot and fails every later read and commit."""
    table, _ = _mk_table(tmp_path, events, n=1)
    n = events.count()
    part = events.limit(5)

    def crash(self):
        raise OSError("simulated crash writing the snapshot")

    with monkeypatch.context() as m, pytest.raises(OSError):
        m.setattr(cat.Snapshot, "to_json", crash)
        cat.snapshot_write(part, table, "append")
    meta = os.listdir(os.path.join(table, "metadata"))
    assert sorted(f for f in meta if f.startswith("v")) == ["v1.json"]
    assert cat.current_snapshot_id(table) == 1
    assert cat.read_snapshot(spark, table).count() == n
    assert cat.snapshot_write(part, table, "append").snapshot_id == 2
    assert cat.read_snapshot(spark, table).count() == n + 5


def test_append_rebases_over_concurrent_delete(
    spark, tmp_path, events, monkeypatch
):
    """An append losing the commit race to an equality delete must
    rebase onto the delete's manifest list: the delete stays live, and
    the re-appended rows survive it (their seq is newer)."""
    table = str(tmp_path / "race")
    cat.snapshot_write(events, table)  # v1
    kill = spark.createDataFrame([(5,)], "user_id bigint")

    real = cat.current_snapshot_id
    state = {"fired": False}

    def racing_delete(t):
        sid = real(t)
        if not state["fired"] and sid == 1:
            state["fired"] = True
            # interloper commits a delete AFTER our append read v1:
            # report the stale parent so the append's first O_EXCL
            # attempt collides with the delete's v2
            monkeypatch.setattr(cat, "current_snapshot_id", real)
            cat.equality_delete(kill, table, ["user_id"])
            return 1
        return sid

    monkeypatch.setattr(cat, "current_snapshot_id", racing_delete)
    re_add = events.filter(F.col("user_id") == 5).limit(9)
    n_re = re_add.count()
    s = cat.snapshot_write(re_add, table)
    assert s.snapshot_id == 3  # rebased past the delete's v2

    got = cat.read_snapshot(spark, table)
    survivors = events.filter(F.col("user_id") != 5).count()
    assert got.filter(F.col("user_id") == 5).count() == n_re
    assert got.count() == survivors + n_re
