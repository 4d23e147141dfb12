"""Seeded input generator and Spark-free expected outputs.

Pages are written as parquet in the ``PAGES_SCHEMA`` layout the program
reads (``url, warc_ts, html, text, lang``); the program sees only that
parquet.  The same seed always yields the same bytes.

Expected per-(sink, hour) ``events`` and ``heap_reclaimed_sum`` come from
the package's DuckDB oracle SQL (an independent SQL re-implementation of
the parser), run once over the distinct embedded log bodies, then summed
over the pages that embed each body.  The extract check compares a CRC32
digest of ``url + "\\n" + embedded body`` per page.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import zlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gclog_parser_spark import oracle
from gclog_parser_spark.datagen import CLOSE_MARK, OPEN_MARK
from gclog_parser_spark.fixtures import all_classes

BASE_TS = datetime(2016, 11, 10, tzinfo=timezone.utc)
HOT_HOUR = 4
N_FILES = 4  # one scan task per task slot
_VOCAB_SIZE = 6000
_ZIPF_TABLE = 1 << 20  # word draws resolve to 1 part in a million
_GATHER_WORDS = 1 << 21  # words gathered per numpy step (~15 MB)

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _vocabulary(rng):
    """Synthetic words, as ``(bytes, starts, lengths, table)``: the words
    each followed by a space in one byte array, where each starts and how
    long it is, and a lookup table that maps a uniform draw to a
    Zipf-distributed word.  Text drawn from it compresses roughly like
    prose and never contains a marker or a GC-log line shape."""
    letters = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
    weights = 1.0 / np.arange(1, len(letters) + 1)
    words: set = set()
    while len(words) < _VOCAB_SIZE:
        n = int(rng.integers(2, 11))
        words.add("".join(rng.choice(letters, n, p=weights / weights.sum())))
    vocab = sorted(words)
    rng.shuffle(vocab)
    spaced = "".join(w + " " for w in vocab).encode("ascii")
    lengths = np.array([len(w) + 1 for w in vocab], dtype=np.int64)
    starts = np.cumsum(lengths) - lengths
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1))
    grid = (np.arange(_ZIPF_TABLE) + 0.5) * (cdf[-1] / _ZIPF_TABLE)
    return (np.frombuffer(spaced, dtype=np.uint8), starts, lengths,
            np.searchsorted(cdf, grid))


def _fillers(rng, vocab, n_bytes: list) -> list:
    """One filler string of about ``n`` bytes per entry of ``n_bytes``;
    words are drawn independently, so no page repeats another.  The words
    are gathered byte-wise with numpy and the text cut at word
    boundaries: joining Python strings costs seconds at 100 MB."""
    spaced, starts, lengths, table = vocab
    counts = np.maximum(np.asarray(n_bytes, dtype=np.int64) // 7, 1)
    drawn = table[rng.integers(0, len(table), size=int(counts.sum()))]
    parts = []
    for a in range(0, len(drawn), _GATHER_WORDS):
        n = lengths[drawn[a:a + _GATHER_WORDS]]
        src = np.repeat(starts[drawn[a:a + _GATHER_WORDS]]
                        - (np.cumsum(n) - n), n)
        src += np.arange(len(src))
        parts.append(spaced[src].tobytes())
    blob = b"".join(parts).decode("ascii")
    ends = np.cumsum(lengths[drawn])[np.cumsum(counts) - 1].tolist()
    return [blob[a:b - 1] for a, b in zip([0] + ends, ends)]


def _page_text(before: str, body: str | None, after: str) -> str:
    if body is None:
        return before + "\n" + after
    return f"{before}\n{OPEN_MARK}\n{body}{CLOSE_MARK}\n{after}"


def _long_body(rng, fixtures, k_range) -> str:
    k = int(rng.integers(k_range[0], k_range[1] + 1))
    parts = [fixtures[i] for i in rng.integers(0, len(fixtures), size=k)]
    return "\n".join(p.rstrip("\n") for p in parts) + "\n"


def generate(seed: int, params: dict, long_logs: bool = False):
    """Pages for one workload as ``(rows, bodies)``: each row is
    ``(url, warc_ts, text, body_key)`` with ``body_key`` indexing
    ``bodies`` (None for a page without a log)."""
    rng = np.random.default_rng(seed)
    n = params["pages"]
    fixtures = [text for _, _, text, _, _ in all_classes()]
    if long_logs:
        bodies = [_long_body(rng, fixtures, params["fixtures_per_log"])
                  for _ in range(n)]
        keys = list(range(n))
    else:
        # fixed counts, seeded placement: every seed gives the same
        # number of log pages, of each fixture, and of hot-hour pages,
        # so the work per pass does not vary with the seed
        bodies = fixtures
        n_logs = max(round(n * params["log_share"]), 1)
        keys = [i % len(fixtures) for i in range(n_logs)]
        keys += [None] * (n - n_logs)
        keys = [keys[i] for i in rng.permutation(n)]
    n_hot = round(n * params.get("hot_hour_share", 0.7))
    hours = rng.permutation(
        [HOT_HOUR] * n_hot + rng.integers(0, 24, size=n - n_hot).tolist()
    )
    minutes = rng.integers(0, 60, size=n)
    hosts = rng.integers(0, 1000, size=n)
    lo, hi = params.get("filler_bytes", (100, 200))
    sizes = rng.integers(lo, hi + 1, size=n) // 2
    vocab = _vocabulary(rng)
    before = _fillers(rng, vocab, sizes.tolist())
    after = _fillers(rng, vocab, sizes.tolist())
    rows = []
    for i in range(n):
        ts = BASE_TS + timedelta(hours=int(hours[i]), minutes=int(minutes[i]))
        body = None if keys[i] is None else bodies[keys[i]]
        url = f"https://site{hosts[i]:03d}.example/p/{i:07d}"
        rows.append((url, ts, _page_text(before[i], body, after[i]), keys[i]))
    return rows, bodies


def write_pages(rows, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        part = rows[f * per_file:(f + 1) * per_file]
        if not part:
            continue
        table = pa.table(
            {
                "url": [r[0] for r in part],
                "warc_ts": [r[1] for r in part],
                "html": pa.nulls(len(part), pa.binary()),
                "text": [r[2] for r in part],
                "lang": ["en"] * len(part),
            },
            schema=_ARROW_SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def oracle_per_body(bodies) -> dict:
    """{body_key: {sink: (events, heap_reclaimed_sum or None)}} from the
    DuckDB oracle SQL over the distinct bodies."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register(
            "bodies",
            pa.table(
                {
                    "url": [str(k) for k in range(len(bodies))],
                    "warc_ts": pa.array(
                        [BASE_TS] * len(bodies), pa.timestamp("us")
                    ),
                    "gc_text": bodies,
                }
            ),
        )
        sql = oracle.gcline_prefix(
            oracle.family_values(),
            pages_cte="pages AS (SELECT url, warc_ts, gc_text FROM bodies)",
        ) + (
            "SELECT e.url, coalesce(f.family, CASE WHEN e.gc_type LIKE 'CMS%'"
            " THEN 'cms_concurrent' ELSE 'other' END) AS sink,"
            " count(*) AS events,"
            " CAST(sum(e.heap_reclaimed_bytes) AS BIGINT) AS reclaimed"
            " FROM gc_events e LEFT JOIN family_dim f USING (gc_type)"
            " GROUP BY 1, 2"
        )
        out: dict = {}
        for url, sink, events, reclaimed in con.execute(sql).fetchall():
            out.setdefault(int(url), {})[sink] = (events, reclaimed)
        return out
    finally:
        con.close()


def expectations(rows, bodies) -> dict:
    """Expected outputs of one pass over ``rows``."""
    per_body = oracle_per_body(bodies)
    groups: dict = {}
    digest = n_logs = events = 0
    for url, ts, _text, key in rows:
        if key is None:
            continue
        n_logs += 1
        digest += zlib.crc32(f"{url}\n{bodies[key]}".encode())
        hour = int(ts.replace(minute=0).timestamp())
        for sink, (n, reclaimed) in per_body.get(key, {}).items():
            g = groups.setdefault(f"{sink}|{hour}", [0, None])
            g[0] += n
            events += n
            if reclaimed is not None:
                g[1] = (g[1] or 0) + reclaimed
    return {
        "pages": len(rows),
        "log_pages": n_logs,
        "events": events,
        "extract_crc_sum": digest,
        "groups": groups,
    }


def materialize(root: str, name: str, seed: int, params: dict,
                long_logs: bool = False) -> str:
    """Generate (once per seed) the pages parquet and its expectations
    under ``root``; returns the directory holding ``pages/`` and
    ``expected.json``."""
    tag = zlib.crc32(json.dumps(params, sort_keys=True).encode())
    out = os.path.join(root, f"{name}-s{seed}-{tag:08x}")
    done = os.path.join(out, "expected.json")
    if not os.path.exists(done):
        # keep one input per workload: other seeds' inputs are hundreds
        # of megabytes each and are made again when asked for
        for old in glob.glob(os.path.join(root, f"{name}-s*")):
            shutil.rmtree(old, ignore_errors=True)
        rows, bodies = generate(seed, params, long_logs=long_logs)
        write_pages(rows, os.path.join(out, "pages"))
        exp = expectations(rows, bodies)
        tmp = done + ".tmp"
        with open(tmp, "w") as f:
            json.dump(exp, f)
        os.replace(tmp, done)
    return out
