"""Runtime Bloom-filter join reduction (the "runtime filter" /
semi-join-pushdown pattern every 100 TB engine leans on).

The reference has no joins at all (SURVEY.md §2.5); the north rule's
pipeline does (BASELINE.json:2), and at fact⋈fact scale the dominant
cost is shuffling the big side.  A Bloom filter built from the join
keys of the *filtered* build side and applied to the probe side BEFORE
its exchange cuts shuffle bytes by the build-side selectivity while
never dropping a matching row (Bloom filters have false positives,
never false negatives — so `bloom ∘ join ≡ join`, which is exactly
what the DuckDB oracle checks).

Scale shape:
* The sketch is **fixed-size state**: ``m_bits`` bits (default 64 Ki =
  8 KiB) regardless of data volume.  The driver collects at most the
  ``m_bits`` *distinct set-bit positions* — a bounded O(m) collect, the
  same legitimacy class as the KMV sketch and k-means centroids
  elsewhere in this repo — and embeds the bitmap as a plan literal, so
  executors test membership with pure codegen bit math (xxhash64 +
  shift/AND), no Python, no extra join, no broadcast variable plumbing.
* Build-side pass: one scan + one bounded distinct on bit position
  (≤ m rows cross the wire — map-side partial dedup makes this tiny).
* Probe-side pass: a scan-level Filter *below* the join exchange
  (pinned in tests/test_bloomjoin.py) — the rows a real cluster never
  pays to shuffle.

This is a from-scratch re-expression of what Spark's own
``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects for
DPP-ineligible joins, made explicit so the plan is inspectable and the
reduction composes with any downstream operator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

#: default sketch size: 64 Ki bits = 8 KiB bitmap
M_BITS = 1 << 16
#: default hash lanes; for n keys ≤ m/16 this keeps FPR ≤ ~1 %
N_HASHES = 3


def _bit_cols(key: Column, m_bits: int, n_hashes: int) -> list[Column]:
    """The ``n_hashes`` bit positions of ``key``: lane ``j`` uses
    xxhash64 seeded by the lane index (seed ≡ extra hashed column), so
    lanes are independent without simulating double hashing."""
    return [
        F.pmod(F.xxhash64(key, F.lit(j)), F.lit(m_bits)).cast("long")
        for j in range(n_hashes)
    ]


def bloom_build(
    build: DataFrame,
    key: str,
    m_bits: int = M_BITS,
    n_hashes: int = N_HASHES,
) -> list[int]:
    """Build the bitmap (list of ``m_bits/64`` int64 words) from the
    build side's join keys.

    One scan over the build side; the exchange carries distinct bit
    positions only (≤ ``m_bits`` rows, partial-deduped map-side).  The
    driver materializes a bounded ``O(m_bits)`` result — 64 Ki ints
    worst case — never the keys themselves.
    """
    bits = (
        build.select(
            F.explode(F.array(*_bit_cols(F.col(key), m_bits, n_hashes)))
            .alias("bit")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in bits:
        b = r["bit"]
        words[b >> 6] |= 1 << (b & 63)
    # two's-complement into signed int64 (bit 63 set would otherwise
    # overflow the JVM long literal); shiftrightunsigned reads the raw
    # bit pattern so membership tests are unaffected
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_test(
    key: str,
    words: list[int],
    m_bits: int = M_BITS,
    n_hashes: int = N_HASHES,
) -> tuple[Column, Column]:
    """(bitmap-literal column, membership predicate) for ``key``.

    Returns the bitmap as a separate column expression so callers bind
    it ONCE with ``withColumn`` and the per-lane tests reference the
    attribute — otherwise each lane would re-embed the 8 KiB literal.
    The predicate is pure codegen: xxhash64 → word index → shift → AND,
    true iff every lane's bit is set.
    """
    bm = F.array(*[F.lit(w) for w in words])
    conds = []
    for j in range(n_hashes):
        # SQL form: the DataFrame shiftrightunsigned() only takes a
        # literal shift amount; the SQL expression takes two columns.
        bit = f"pmod(xxhash64({key}, {j}), {m_bits})"
        conds.append(
            f"(shiftrightunsigned("
            f"element_at(__bloom_bm, cast(({bit}) div 64 AS INT) + 1),"
            f" cast(({bit}) % 64 AS INT)) & 1) = 1"
        )
    return bm, F.expr(" AND ".join(conds))


def bloom_reduce(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
) -> DataFrame:
    """Probe side filtered by a Bloom sketch of the build side's keys:
    every row that would survive ``probe ⋈ build`` survives this filter
    (no false negatives), most rows that wouldn't are dropped *before*
    the join's exchange.  Schema is unchanged."""
    words = bloom_build(build, build_key, M_BITS, N_HASHES)
    bm, pred = bloom_test(probe_key, words, M_BITS, N_HASHES)
    return (
        probe.withColumn("__bloom_bm", bm)
        .where(pred)
        .drop("__bloom_bm")
    )
