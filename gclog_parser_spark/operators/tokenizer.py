"""Corpus-scale tokenizer training: byte-pair-encoding merge learning.

Every LLM pipeline trains its tokenizer on the corpus it will encode
(Sennrich et al. 2016; GPT-2/LLaMA BPE).  The trainer is an iterative
algorithm with a small twist that makes it cheap at 10^12 documents:
after ONE corpus-sized word-count aggregation, every iteration runs on
the **distinct-word relation** (|vocab| rows, corpus-size-independent)
— the same "collapse to the weighted vocab first" trick the original
``learn_bpe`` uses, re-expressed as DataFrame plans.

Exact cross-engine parity: pair counts are BIGINT sums of BIGINT word
frequencies, the winning pair is the (count DESC, lhs ASC, rhs ASC)
argmax — total order, no floats anywhere — and the merge rewrite is a
single left-to-right non-overlapping pass.  The Spark side implements
that pass as an ``aggregate`` fold over the symbol array; the DuckDB
oracle independently re-derives it with a gaps-and-islands window
(merge starts = odd positions within each maximal run of consecutive
matches) — different constructions, provably the same function: a
merged token ``lhs||rhs`` can never equal ``lhs`` (rhs is non-empty),
so the fold's "last element == lhs" test only ever fires on original,
unconsumed symbols, which is exactly the window form's condition.

Scale shape: per iteration = one vocab-sized pair-count exchange + an
O(1) driver argmax collect (one row — same driver-state discipline as
``graph.pagerank``'s node count and ``similarity.ivf_train``'s k×dim
centroids) + a map-side fold rewrite of the vocab relation; lineage is
truncated with ``localCheckpoint`` each round so iteration k does not
re-execute rounds 1..k-1.  The reference repo has no text surface —
this is north-rule webtext superset (BASELINE.json: training-data
pipeline over Common-Crawl-style pages).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MERGE_SCHEMA = StructType(
    [
        StructField("step", IntegerType(), False),
        StructField("lhs", StringType(), False),
        StructField("rhs", StringType(), False),
        StructField("n", LongType(), False),
    ]
)


def word_freqs(docs: DataFrame) -> DataFrame:
    """Weighted vocab relation ``(word, freq)`` — the one corpus-sized
    aggregation the trainer performs.  Words longer than
    64 characters are dropped (URL/blob junk would otherwise blow
    up the per-word symbol arrays; real trainers cap the same way)."""
    from gclog_parser_spark.operators.dedup import _words

    return (
        docs.select(F.explode(_words(F.col("text"))).alias("word"))
        .where((F.col("word") != "") & (F.length("word") <= 64))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.
    ``sequence(0, -1)`` would generate a DESCENDING range, so
    single-symbol words are guarded to an empty pair list."""
    pairs = F.expr(
        "CASE WHEN size(syms) < 2"
        " THEN CAST(array() AS array<struct<lhs:string,rhs:string>>)"
        " ELSE transform(sequence(0, size(syms)-2),"
        "                i -> struct(syms[i] AS lhs, syms[i+1] AS rhs))"
        " END"
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy("p.lhs", "p.rhs")
        .agg(F.sum("freq").alias("n"))
    )


def _merge_fold(lhs: str, rhs: str):
    """Left-to-right non-overlapping merge of (lhs, rhs) -> lhs||rhs
    as an ``aggregate`` fold over the symbol array.  Greedy semantics:
    a pair is merged iff its left symbol was not consumed by the
    previous merge — automatic here because the merged token can never
    equal ``lhs`` (see module docstring)."""
    return F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.lit(-1)) == F.lit(lhs))
            & (x == F.lit(rhs)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(lhs + rhs)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merges(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus.

    Returns the learned merge table ``(step, lhs, rhs, n)`` — step is
    1-based merge order, ``n`` the weighted pair count that won the
    step.  Stops early if the vocabulary runs out of adjacent pairs
    (every word fully merged); the oracle's UNION ALL of per-step
    argmax CTEs goes empty at the same point, so parity holds.
    """
    spark = docs.sparkSession
    vocab = word_freqs(docs).select(
        F.split(
            F.trim(F.regexp_replace("word", "(.)", "$1 ")), " "
        ).alias("syms"),
        "freq",
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, n = best[0]["lhs"], best[0]["rhs"], best[0]["n"]
        merges.append((step, lhs, rhs, n))
        vocab = vocab.select(
            _merge_fold(lhs, rhs).alias("syms"), "freq"
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def bpe_encode(docs: DataFrame, merge_rows: list) -> DataFrame:
    """Apply a learned merge list to the corpus: per-doc token counts
    under the trained tokenizer — ``(doc_id, n_subwords)``.  Each
    merge is one map-side fold; the whole encode is a zero-exchange
    scan projection, the shape a 10^12-doc encode job needs."""
    from gclog_parser_spark.operators.dedup import _words

    out = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    out = out.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace("word", "(.)", "$1 ")), " "
        ).alias("syms"),
    )
    for r in merge_rows:
        out = out.select(
            "doc_id", _merge_fold(r["lhs"], r["rhs"]).alias("syms")
        )
    return out.groupBy("doc_id").agg(
        F.sum(F.size("syms")).alias("n_subwords")
    )
