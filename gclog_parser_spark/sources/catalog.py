"""Iceberg-shaped snapshot catalog over plain parquet.

The north rule routes events "to per-sink Iceberg tables"
(BASELINE.json:14) and requires checkpoint-resumable, lineage-carrying
writes; the sandbox has no Iceberg runtime (see
operators/route.fanout_write), so this module re-implements the part of
the Iceberg *table format* the pipeline actually depends on — snapshot
isolation, time travel, incremental (CDC-style append-diff) reads,
stats-based file skipping, optimistic-concurrency commits, and snapshot
expiry — over plain parquet plus JSON metadata.  The layout mirrors
Iceberg's three-level metadata tree (table metadata → manifest list →
manifest) so a production deployment swaps this for real Iceberg calls
without touching callers:

    table/
      data/commit-<uuid>/part-*.parquet       immutable data files
      metadata/m-<uuid>.json                  manifest: one commit's
                                              files + per-file column
                                              stats (min/max/nulls/rows)
      metadata/v<N>.json                      snapshot N: operation,
                                              parent, list of manifest
                                              paths, summary

Scale notes (10^12-doc design point):

* A commit writes ONE manifest covering only its own files — commit
  cost is O(new files), never O(table).  Snapshot JSON holds manifest
  *paths*, so the metadata tree stays small; real Iceberg shards the
  same way (snapshot → manifest list → manifests).
* Per-file column stats come from the parquet footers pyarrow already
  wrote — no second pass over data.  ``scan_with_pruning`` does
  driver-side min/max file skipping exactly like Iceberg's scan
  planning: O(files-in-table) metadata work, zero data I/O for skipped
  files.  (Driver-side planning over file lists is what Iceberg's own
  planner does; at extreme file counts it distributes manifest reads —
  noted, out of sandbox scope.)
* Commits use optimistic concurrency: the snapshot JSON is written to
  a temporary name and hard-linked to ``v<N>.json``, an exclusive
  create that publishes the whole file or nothing; a loser re-reads
  the new current snapshot, rebases its manifest list (appends
  compose; overwrites conflict), and retries —
  the same protocol as Iceberg's atomic metadata swap.
* Readers never list data directories; the manifest IS the truth.  A
  crashed writer leaves orphan files that no snapshot references;
  ``expire_snapshots`` (the VACUUM twin) deletes them safely because
  reachability is decided from metadata only.

Reference parity note: the reference has no storage layer at all (it
re-parses the whole log per run — Main.scala:21); this module is part
of the north-rule superset, not reference parity.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_META = "metadata"
_DATA = "data"
_MAX_COMMIT_RETRIES = 10


# ---------------------------------------------------------------------------
# stats encoding (JSON-safe; parquet footer values may be datetimes/bytes)
# ---------------------------------------------------------------------------

def _enc(v: Any) -> Any:
    if isinstance(v, (datetime, date)):
        return {"$ts": v.isoformat()}
    if isinstance(v, bytes):
        return {"$b": v.decode("utf-8", "replace")}
    return v


def _dec(v: Any) -> Any:
    if isinstance(v, dict) and "$ts" in v:
        return datetime.fromisoformat(v["$ts"])
    if isinstance(v, dict) and "$b" in v:
        return v["$b"]
    return v


def _file_stats(path: str) -> dict[str, Any]:
    """Column min/max/null-count/row-count from the parquet footer —
    the same stats Iceberg records in manifests, at zero extra I/O."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    cols: dict[str, dict[str, Any]] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            st = c.statistics
            ent = cols.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "ok": True}
            )
            if st is None or not st.has_min_max:
                # a row group without stats poisons pruning for the col
                ent["ok"] = False
                continue
            ent["nulls"] += st.null_count or 0
            mn, mx = st.min, st.max
            if ent["min"] is None or mn < ent["min"]:
                ent["min"] = mn
            if ent["max"] is None or mx > ent["max"]:
                ent["max"] = mx
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "columns": {
            k: {
                "min": _enc(v["min"]),
                "max": _enc(v["max"]),
                "nulls": v["nulls"],
                "ok": v["ok"],
            }
            for k, v in cols.items()
        },
    }


# ---------------------------------------------------------------------------
# metadata tree
# ---------------------------------------------------------------------------

@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # append | overwrite | eqdelete
    #: manifest entries: ``{"path": rel, "seq": commit_seq, "kind":
    #: "data"|"eqdelete"}``.  ``seq`` is the Iceberg data-sequence
    #: number: an equality delete applies only to rows whose data file
    #: has a strictly SMALLER seq.
    manifests: list
    summary: dict[str, Any]

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        return Snapshot(**json.loads(s))


def _snap_path(table: str, sid: int) -> str:
    return os.path.join(table, _META, f"v{sid}.json")


def _snapshot_ids(table: str) -> list[int]:
    """Ids of the table's live snapshots, ascending."""
    meta = os.path.join(table, _META)
    if not os.path.isdir(meta):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(meta)
        if f.startswith("v") and f.endswith(".json")
    )


def current_snapshot_id(table: str) -> int | None:
    ids = _snapshot_ids(table)
    return ids[-1] if ids else None


def load_snapshot(table: str, snapshot_id: int | None = None) -> Snapshot:
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table)
    if sid is None:
        raise FileNotFoundError(f"no snapshots in {table}")
    p = _snap_path(table, sid)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"snapshot {sid} not found (expired or never existed): {p}"
        )
    with open(p) as f:
        return Snapshot.from_json(f.read())


def _load_manifest(table: str, rel: str) -> dict[str, Any]:
    with open(os.path.join(table, rel)) as f:
        return json.load(f)


def _norm_entry(m) -> dict[str, Any]:
    return {
        "path": m["path"],
        "seq": m.get("seq", 0),
        "kind": m.get("kind", "data"),
    }


def manifest_paths(snap: Snapshot) -> set[str]:
    return {_norm_entry(m)["path"] for m in snap.manifests}


def _manifest_files(table: str, snap: Snapshot) -> list[dict[str, Any]]:
    """ALL files referenced by the snapshot (data + delete-key files) —
    the reachability set for expiry and stats."""
    out: list[dict[str, Any]] = []
    for m in snap.manifests:
        out.extend(_load_manifest(table, _norm_entry(m)["path"])["files"])
    return out


def _split_entries(table: str, snap: Snapshot):
    """(data_entries, delete_entries): per manifest, the normalized
    entry plus its loaded manifest dict."""
    data, dels = [], []
    for m in snap.manifests:
        e = _norm_entry(m)
        man = _load_manifest(table, e["path"])
        (dels if e["kind"] == "eqdelete" else data).append((e, man))
    return data, dels


def _target_schema(data):
    """The table's CURRENT schema = the newest data manifest's stored
    schema (Iceberg: schema lives in table metadata, evolved by
    commits).  None when no manifest recorded one (legacy)."""
    from pyspark.sql.types import StructType

    best = None
    best_seq = -1
    for e, man in data:
        if man.get("schema") and e["seq"] >= best_seq:
            best, best_seq = man["schema"], e["seq"]
    return StructType.fromJson(json.loads(best)) if best else None


def _align(df: DataFrame, target) -> DataFrame:
    """Schema evolution on read: add-column → typed NULL for old
    files, type widening → cast, dropped column → projected away.
    A no-op when the schemas already match."""
    import pyspark.sql.functions as F

    if target is None or df.schema == target:
        return df
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have[f.name].dataType != f.dataType:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _apply_deletes(spark, table, data, dels, target=None) -> DataFrame:
    """Merge-on-read: tag each data file group with its commit seq,
    union the (tiny) delete-key relations with theirs, and anti-join
    on (key equality AND data.seq < delete.seq) — Iceberg v2 equality
    -delete semantics.  Delete relations are key-only parquet, so the
    anti-join broadcasts in practice."""
    import pyspark.sql.functions as F

    if target is None:
        target = _target_schema(data)
    parts = []
    for e, man in data:
        files = [os.path.join(table, x["path"]) for x in man["files"]]
        if files:
            parts.append(
                _align(spark.read.parquet(*files), target).withColumn(
                    "_seq", F.lit(e["seq"]).cast("long")
                )
            )
    if not parts:
        raise ValueError("snapshot has no data files")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if not dels:
        return df.drop("_seq")
    key_cols = dels[0][1]["key_cols"]
    dparts = []
    for e, man in dels:
        files = [os.path.join(table, x["path"]) for x in man["files"]]
        if man["key_cols"] != key_cols:
            raise ValueError(
                "mixed equality-delete key sets are not supported: "
                f"{man['key_cols']} vs {key_cols}"
            )
        d = spark.read.parquet(*files).select(
            *[F.col(k).alias(f"_del_{k}") for k in key_cols]
        )
        dparts.append(d.withColumn("_dseq", F.lit(e["seq"]).cast("long")))
    delks = dparts[0]
    for p in dparts[1:]:
        delks = delks.unionByName(p)
    cond = F.col("_seq") < F.col("_dseq")
    for k in key_cols:
        cond = cond & (F.col(k) == F.col(f"_del_{k}"))
    return df.join(delks, on=cond, how="left_anti").drop("_seq")


# ---------------------------------------------------------------------------
# write path: one data write, one manifest writer, one commit loop
# ---------------------------------------------------------------------------

def _write_data(df: DataFrame, table: str) -> str:
    """Write ``df`` into a fresh commit-private data directory (a normal
    distributed Spark parquet write); returns it relative to ``table``."""
    commit_dir = os.path.join(_DATA, f"commit-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(os.path.join(table, commit_dir))
    return commit_dir


def _write_manifest(
    table: str, commit_dir: str, **fields
) -> tuple[str, dict[str, Any]]:
    """Write the manifest ``m-<uuid>.json`` of the parquet files in
    ``table/<commit_dir>``: per-file footer stats, their row total, and
    ``fields``.  Returns (manifest path relative to ``table``, manifest)."""
    files = []
    for f in sorted(os.listdir(os.path.join(table, commit_dir))):
        if f.endswith(".parquet"):
            rel = os.path.join(commit_dir, f)
            stats = _file_stats(os.path.join(table, rel))
            files.append({"path": rel, **stats})
    added_rows = sum(e["rows"] for e in files)
    man = {"files": files, "added_rows": added_rows, **fields}
    os.makedirs(os.path.join(table, _META), exist_ok=True)
    manifest_rel = os.path.join(_META, f"m-{uuid.uuid4().hex}.json")
    with open(os.path.join(table, manifest_rel), "w") as f:
        json.dump(man, f)
    return manifest_rel, man


def _commit(
    table: str,
    operation: str,
    manifest_rel: str,
    summary: dict[str, Any],
    fence_id: int | None,
) -> Snapshot | None:
    """The one optimistic commit: snapshot parent+1 adds the manifest
    ``manifest_rel`` to the parent's manifest list (an overwrite starts
    an empty list, an eqdelete needs a parent), and its ``v<N>.json`` is
    written to a temporary name and ``os.link``-ed into place — the
    atomic swap: the link fails on an existing name, and a reader or a
    crash never sees a partial file.  A loser re-reads the parent
    through :func:`current_snapshot_id`, rebases, and retries.

    ``fence_id`` is a stream batch id.  It is written into the summary
    by the same create, so a snapshot is durable with its fence or not
    at all; a batch whose id is ≤ the parent's fence is already in the
    table and is skipped (returns None)."""
    kind = "eqdelete" if operation == "eqdelete" else "data"
    for _ in range(_MAX_COMMIT_RETRIES):
        parent = current_snapshot_id(table)
        cur = None if parent is None else load_snapshot(table, parent)
        if cur is None and operation == "eqdelete":
            raise FileNotFoundError(
                f"cannot delete from empty table {table}"
            )
        last = None if cur is None else cur.summary.get("stream_batch_id")
        if fence_id is not None and last is not None and fence_id <= last:
            return None
        base = cur if operation != "overwrite" else None
        sid = (parent or 0) + 1
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent,
            operation=operation,
            manifests=(list(base.manifests) if base else [])
            + [{"path": manifest_rel, "seq": sid, "kind": kind}],
            summary={
                **summary,
                "total_rows": summary["added_rows"]
                + (base.summary.get("total_rows", 0) if base else 0),
            },
        )
        if fence_id is not None:
            snap.summary["stream_batch_id"] = fence_id
        path = _snap_path(table, sid)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                f.write(snap.to_json())
            os.link(tmp, path)
        except FileExistsError:
            continue  # a concurrent commit won; rebase on the new current
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
        return snap
    raise RuntimeError(
        f"{operation} on {table} lost {_MAX_COMMIT_RETRIES} optimistic races"
    )


def _add_files(
    table: str,
    commit_dir: str,
    mode: str,
    schema_json: str | None,
    fence_id: int | None,
) -> Snapshot | None:
    """Manifest + commit for the data files in ``table/<commit_dir>``;
    a fenced replay removes them again and returns None."""
    manifest_rel, man = _write_manifest(table, commit_dir, schema=schema_json)
    snap = _commit(
        table,
        mode,
        manifest_rel,
        {"added_files": len(man["files"]), "added_rows": man["added_rows"]},
        fence_id,
    )
    if snap is None:
        os.remove(os.path.join(table, manifest_rel))
        shutil.rmtree(os.path.join(table, commit_dir))
    return snap


def snapshot_write(
    df: DataFrame, table: str, mode: str = "append"
) -> Snapshot:
    """Commit ``df`` to ``table`` as a new snapshot.

    ``mode='append'`` adds files to the current snapshot's manifest
    list; ``mode='overwrite'`` starts a fresh list (full-table
    replace).  The data write is a normal distributed Spark parquet
    write into a commit-private directory; only the tiny metadata
    commit is driver-side.  Returns the committed :class:`Snapshot`.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    return _add_files(
        table, _write_data(df, table), mode, df.schema.json(), None
    )


def commit_existing_files(
    table: str,
    commit_dir: str,
    schema_json: str | None = None,
    fence_id: int | None = None,
) -> Snapshot | None:
    """Commit parquet files ALREADY inside ``table/<commit_dir>`` as a
    new append snapshot — the zero-copy half of :func:`snapshot_write`,
    and the primitive the fan-out writer uses: one partitioned Spark
    write produces every sink's files, then each sink table commits its
    own directory with pure metadata work (no data rewrite, exactly
    Iceberg's add-files path).  With ``fence_id`` the commit is
    batch-fenced (see :func:`streaming_sink`): a replayed batch returns
    None and its files are removed."""
    return _add_files(table, commit_dir, "append", schema_json, fence_id)


# ---------------------------------------------------------------------------
# read paths
# ---------------------------------------------------------------------------

def read_snapshot(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the table as of ``snapshot_id`` (default: current) — the
    time-travel read.  Planned purely from metadata; Spark never lists
    the data directory.  Live equality deletes are applied
    merge-on-read (see :func:`equality_delete`); without deletes this
    is a plain multi-file parquet scan."""
    snap = load_snapshot(table, snapshot_id)
    data, dels = _split_entries(table, snap)
    schemas = {man.get("schema") for _, man in data}
    if not dels and len(schemas) <= 1:
        files = [
            os.path.join(table, x["path"])
            for _, man in data
            for x in man["files"]
        ]
        if not files:
            raise ValueError(f"snapshot {snap.snapshot_id} is empty")
        return spark.read.parquet(*files)
    return _apply_deletes(spark, table, data, dels)


def incremental_read(
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Rows appended strictly AFTER ``from_snapshot`` up to and
    including ``to_snapshot`` — the CDC/incremental-consumer read
    (Iceberg's ``incremental read between snapshots``).  Computed as a
    manifest-set difference, so it is exact for append-only history;
    an intervening overwrite breaks append lineage and raises."""
    to_snap = load_snapshot(table, to_snapshot)
    from_snap = load_snapshot(table, from_snapshot)
    sid = to_snap.snapshot_id
    walk = to_snap
    while walk.snapshot_id > from_snap.snapshot_id:
        if walk.operation == "overwrite":
            raise ValueError(
                f"snapshot {walk.snapshot_id} is an overwrite; "
                "incremental append-diff is undefined across it"
            )
        if walk.parent_id is None:
            break
        walk = load_snapshot(table, walk.parent_id)
    base = manifest_paths(from_snap)
    files = []
    for m in to_snap.manifests:
        e = _norm_entry(m)
        if e["path"] in base or e["kind"] != "data":
            continue
        files.extend(
            os.path.join(table, x["path"])
            for x in _load_manifest(table, e["path"])["files"]
        )
    if not files:
        return read_snapshot(spark, table, sid).limit(0)
    return spark.read.parquet(*files)


def scan_with_pruning(
    spark: SparkSession,
    table: str,
    column: str,
    lower: Any,
    upper: Any,
) -> tuple[DataFrame, dict[str, int]]:
    """Range scan of the current snapshot with manifest-level file
    skipping: keep only files whose footer [min,max] for ``column``
    intersects [lower,upper], then apply the exact filter on the
    survivors (stats are a superset guard, never the final predicate).
    Returns the DataFrame and ``{"files_total": n, "files_scanned": k}``
    so callers (and tests) can assert the skipping actually happened."""
    from pyspark.sql import functions as F

    snap = load_snapshot(table)
    data, dels = _split_entries(table, snap)
    total = 0
    kept_data = []
    for e, man in data:
        keep_files = []
        for x in man["files"]:
            total += 1
            st = x["columns"].get(column)
            if st is not None and st.get("ok", False):
                mn, mx = _dec(st["min"]), _dec(st["max"])
                if mx < lower or mn > upper:
                    continue
            # no stats → must scan (correctness first)
            keep_files.append(x)
        if keep_files:
            kept_data.append((e, {**man, "files": keep_files}))
    scanned = sum(len(man["files"]) for _, man in kept_data)
    report = {"files_total": total, "files_scanned": scanned}
    if not kept_data:
        df = read_snapshot(spark, table, snap.snapshot_id).limit(0)
    elif not dels and len({man.get("schema") for _, man in kept_data}) <= 1:
        # fast path: one multi-file scan, no per-manifest union
        df = spark.read.parquet(
            *[
                os.path.join(table, x["path"])
                for _, man in kept_data
                for x in man["files"]
            ]
        )
    else:
        # schema target from the FULL entry list so pruning a manifest
        # away can't change the result's column set
        df = _apply_deletes(
            spark, table, kept_data, dels, target=_target_schema(data)
        )
    return (
        df.filter((F.col(column) >= lower) & (F.col(column) <= upper)),
        report,
    )


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """One row per live snapshot: the audit/time-travel index
    (Iceberg's ``table.history()`` twin)."""
    rows = []
    sid = current_snapshot_id(table)
    for s in (load_snapshot(table, i) for i in _snapshot_ids(table)):
        rows.append(
            (
                s.snapshot_id,
                s.parent_id,
                s.operation,
                len(s.manifests),
                s.summary.get("added_rows", 0),
                s.summary.get("total_rows", 0),
                s.snapshot_id == sid,
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id int, parent_id int, operation string,"
        " n_manifests int, added_rows bigint, total_rows bigint,"
        " is_current boolean",
    )


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------

def expire_snapshots(table: str, keep_last: int = 1) -> dict[str, int]:
    """Drop all but the newest ``keep_last`` snapshots and delete any
    manifest/data file no surviving snapshot references — the VACUUM /
    ``expireSnapshots`` maintenance pass.  Reachability is decided
    from metadata alone, so orphans from crashed writers are also
    collected.  Returns deletion counts."""
    all_sids = _snapshot_ids(table)
    if not all_sids:
        return {"snapshots_removed": 0, "manifests_removed": 0, "data_files_removed": 0}
    meta = os.path.join(table, _META)
    keep_sids = set(all_sids[-keep_last:])
    live_manifests: set[str] = set()
    live_files: set[str] = set()
    for sid in keep_sids:
        s = load_snapshot(table, sid)
        live_manifests.update(manifest_paths(s))
        for e in _manifest_files(table, s):
            live_files.add(e["path"])

    n_snap = n_man = n_data = 0
    for sid in all_sids:
        if sid not in keep_sids:
            os.remove(_snap_path(table, sid))
            n_snap += 1
    for f in list(os.listdir(meta)):
        rel = os.path.join(_META, f)
        if f.startswith("m-") and rel not in live_manifests:
            os.remove(os.path.join(table, rel))
            n_man += 1
    data_root = os.path.join(table, _DATA)
    if os.path.isdir(data_root):
        for d in list(os.listdir(data_root)):
            cdir = os.path.join(data_root, d)
            for f in list(os.listdir(cdir)):
                rel = os.path.join(_DATA, d, f)
                if f.endswith(".parquet") and rel not in live_files:
                    os.remove(os.path.join(cdir, f))
                    n_data += 1
                elif not f.endswith(".parquet"):
                    os.remove(os.path.join(cdir, f))  # _SUCCESS, .crc
            if not os.listdir(cdir):
                os.rmdir(cdir)
    return {
        "snapshots_removed": n_snap,
        "manifests_removed": n_man,
        "data_files_removed": n_data,
    }


# ---------------------------------------------------------------------------
# write-audit-publish (WAP)
# ---------------------------------------------------------------------------

def stage_write(df: "DataFrame", table: str) -> str:
    """Stage data for write-audit-publish: the files and their
    manifest are written exactly as :func:`snapshot_write` would, but
    NO snapshot is committed — readers cannot see staged data (the
    manifest is referenced by nothing).  Returns the staging token
    (the manifest's relative path) for :func:`read_staged` /
    :func:`publish_staged` / :func:`abort_staged`.

    This is Iceberg's WAP branch pattern on our metadata tree: stage →
    run audits (e.g. ``operators/quality.dq_report``) against the
    staged rows only → publish atomically or abort.  An abort (or a
    crash mid-audit) leaves only unreferenced files, which
    :func:`expire_snapshots` collects.
    """
    return _write_manifest(
        table, _write_data(df, table), schema=df.schema.json(), staged=True
    )[0]


def read_staged(spark: SparkSession, table: str, token: str) -> DataFrame:
    """Read ONLY the staged rows (for the audit step)."""
    m = _load_manifest(table, token)
    files = [os.path.join(table, e["path"]) for e in m["files"]]
    if not files:
        raise ValueError(f"staged manifest {token} is empty")
    return spark.read.parquet(*files)


def publish_staged(table: str, token: str) -> Snapshot:
    """Atomically publish a staged manifest as a new append snapshot — the
    'publish' of WAP.  Same optimistic-concurrency protocol as
    :func:`snapshot_write`; the data was already written at stage
    time, so publish is a pure metadata operation (O(1) I/O)."""
    m = _load_manifest(table, token)
    summary = {
        "added_files": len(m["files"]),
        "added_rows": m["added_rows"],
        "wap": True,
    }
    return _commit(table, "append", token, summary, None)


def abort_staged(table: str, token: str) -> int:
    """Drop a staged manifest and its data files immediately (the
    explicit abort; a crashed stage is equally safe to leave for
    ``expire_snapshots``).  Returns number of data files removed."""
    m = _load_manifest(table, token)
    n = 0
    dirs = set()
    for e in m["files"]:
        p = os.path.join(table, e["path"])
        dirs.add(os.path.dirname(p))
        if os.path.exists(p):
            os.remove(p)
            n += 1
    os.remove(os.path.join(table, token))
    for d in dirs:
        for f in list(os.listdir(d)):
            if not f.endswith(".parquet"):
                os.remove(os.path.join(d, f))
        if not os.listdir(d):
            os.rmdir(d)
    return n


# ---------------------------------------------------------------------------
# row-level deletes (merge-on-read) + rewrite
# ---------------------------------------------------------------------------

def equality_delete(
    keys_df: DataFrame, table: str, key_cols: list[str]
) -> Snapshot:
    """Commit an Iceberg-v2-style **equality delete**: ``keys_df``
    holds the key tuples to delete; data files are NOT rewritten.
    Readers apply the delete merge-on-read via an anti-join, and —
    exactly like Iceberg's data-sequence rule — the delete hits only
    rows whose data commit has a strictly smaller sequence number:
    rows re-inserted AFTER the delete survive.

    Scale: the write is O(keys); the read-side anti-join ships only
    the key relation (tiny → broadcast).  Accumulated deletes are
    materialized away by :func:`rewrite_compact`.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    manifest_rel, man = _write_manifest(
        table,
        _write_data(keys_df.select(*key_cols).distinct(), table),
        added_rows=0,
        key_cols=list(key_cols),
        kind="eqdelete",
    )
    summary = {
        "added_files": 0,
        "added_rows": 0,
        "delete_keys": sum(e["rows"] for e in man["files"]),
    }
    return _commit(table, "eqdelete", manifest_rel, summary, None)


def rewrite_compact(spark: SparkSession, table: str) -> Snapshot:
    """Materialize merge-on-read state: read the current snapshot
    (deletes applied) and commit it back as a single overwrite — the
    Iceberg ``rewrite_data_files`` + ``rewrite_position_delete_files``
    maintenance pass.  Afterwards reads are plain scans again;
    :func:`expire_snapshots` collects the superseded delete files."""
    df = read_snapshot(spark, table)
    return snapshot_write(df, table, mode="overwrite")


# ---------------------------------------------------------------------------
# incremental consumer (CDC consumption loop)
# ---------------------------------------------------------------------------

class IncrementalConsumer:
    """Restart-safe incremental consumption of an append-only catalog
    table — the micro-batch CDC consumer loop (Iceberg's
    ``stream-from-snapshot`` / a Kafka-consumer-group analogue with
    the cursor in the lake, not in a broker).

    Protocol (at-least-once delivery; exactly-once OUTPUT when the
    caller's sink is idempotent, e.g. ``stream.run_fanout_stream``'s
    (batch, sink) dynamic-overwrite or another catalog table keyed by
    ``to_id``):

    1. :meth:`poll` plans the batch = appends after the cursor, up to
       the current snapshot — a manifest-set difference, zero data
       I/O to plan.
    2. the caller processes/writes the batch.
    3. :meth:`commit` advances the cursor (atomic tmp+rename) ONLY
       after the output commit; a crash between 2 and 3 replays the
       same batch, which the idempotent sink absorbs.

    The cursor file is tiny JSON next to the consumer's output, so
    consumer state lives with the data (resume after driver loss
    needs no external service).  An overwrite/rewrite snapshot in the
    consumed range raises — the consumer must re-bootstrap, same as
    Iceberg's incremental read.
    """

    def __init__(self, table: str, cursor_path: str):
        self.table = table
        self.cursor_path = cursor_path

    def position(self) -> int:
        """Last committed snapshot id (0 = nothing consumed)."""
        if not os.path.exists(self.cursor_path):
            return 0
        with open(self.cursor_path) as f:
            return json.load(f)["snapshot_id"]

    def poll(self, spark: SparkSession):
        """Return ``(df, from_id, to_id)`` for the unconsumed appends,
        or ``(None, pos, pos)`` when caught up.  ``df`` covers
        snapshots (from_id, to_id]; pass ``to_id`` to :meth:`commit`
        after the output is durable."""
        pos = self.position()
        cur = current_snapshot_id(self.table)
        if cur is None or cur == pos:
            return None, pos, pos
        if pos == 0:
            df = read_snapshot(spark, self.table, cur)
        else:
            df = incremental_read(spark, self.table, pos, cur)
        return df, pos, cur

    def commit(self, to_id: int) -> None:
        tmp = f"{self.cursor_path}.tmp.{uuid.uuid4().hex}"
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": to_id}, f)
        os.replace(tmp, self.cursor_path)


# ---------------------------------------------------------------------------
# streaming sink (exactly-once foreachBatch appends)
# ---------------------------------------------------------------------------

def streaming_sink(table: str):
    """A ``foreachBatch`` function committing each micro-batch as an
    append snapshot with **batch-id fencing**: the epoch id is stored
    in the snapshot summary by the same exclusive create that commits
    the batch, and a replayed batch (restart from an uncommitted offset —
    Structured Streaming's at-least-once foreachBatch contract) whose
    id is ≤ the newest committed fence is skipped, making the catalog
    append exactly-once.  A crash anywhere in the commit leaves the
    batch either absent (the replay commits it) or present with its
    fence (the replay skips it).

    The fence only needs the LATEST committed id per table because
    Structured Streaming replays batches in order.  Usage::

        q = (df.writeStream.option("checkpointLocation", ckpt)
               .foreachBatch(catalog.streaming_sink(table)).start())

    Pairs with :class:`IncrementalConsumer` on the read side: stream →
    catalog → incremental consumers, each hop idempotent.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_existing_files(
            table,
            _write_data(batch_df, table),
            batch_df.schema.json(),
            fence_id=batch_id,
        )

    return _sink


# ---------------------------------------------------------------------------
# named refs (tags) + metadata tables
# ---------------------------------------------------------------------------

def _refs_path(table: str) -> str:
    return os.path.join(table, _META, "refs.json")


def create_tag(table: str, name: str) -> int:
    """Pin a name to the current snapshot (Iceberg tag): time travel by
    label —
    'the corpus release run X trained on'.  Expiry does not consult
    tags (keep_last is the only retention rule here); reading a tag
    whose snapshot was expired fails loudly.  Atomic read-modify-write
    via tmp+rename."""
    sid = current_snapshot_id(table)
    if sid is None or not os.path.exists(_snap_path(table, sid)):
        raise FileNotFoundError(f"snapshot {sid} not in {table}")
    refs = read_refs(table)
    refs[name] = sid
    tmp = _refs_path(table) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(refs, f, sort_keys=True)
    os.replace(tmp, _refs_path(table))
    return sid


def read_refs(table: str) -> dict[str, int]:
    p = _refs_path(table)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def read_tag(spark: SparkSession, table: str, name: str) -> DataFrame:
    """Time-travel read by tag name."""
    refs = read_refs(table)
    if name not in refs:
        raise KeyError(f"no tag {name!r} in {table} (have {sorted(refs)})")
    return read_snapshot(spark, table, refs[name])


def table_files(spark: SparkSession, table: str) -> DataFrame:
    """The ``files`` metadata table (Iceberg's ``table.files`` twin):
    one row per live file of the current snapshot with rows/bytes/kind —
    what ops dashboards and compaction planners query instead of listing
    storage."""
    snap = load_snapshot(table)
    rows = []
    for m in snap.manifests:
        e = _norm_entry(m)
        man = _load_manifest(table, e["path"])
        for x in man["files"]:
            rows.append(
                (x["path"], e["kind"], e["seq"], x["rows"], x["bytes"])
            )
    return spark.createDataFrame(
        rows,
        "path string, kind string, seq int, rows bigint, bytes bigint",
    )
