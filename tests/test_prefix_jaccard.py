"""Prefix-filtering set-similarity join: the candidate reduction must
be COMPLETE — every pair with true Jaccard >= num/den survives, exactly
what a Python brute force over all O(n^2) pairs finds."""

from itertools import combinations

import pyspark.sql.functions as F

from gclog_parser_spark.operators.dedup import (
    SHINGLE_K,
    prefix_jaccard_pairs,
)


def _shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + k]) for i in range(max(len(w) - k + 1, 0))}


def _brute(docs: list[tuple[int, str]], num: int, den: int):
    out = set()
    for (ida, ta), (idb, tb) in combinations(docs, 2):
        a, b = _shingles(ta), _shingles(tb)
        if not a or not b:
            continue
        inter = len(a & b)
        union = len(a | b)
        if den * inter >= num * union:
            out.add((min(ida, idb), max(ida, idb), round(inter / union, 6)))
    return out


WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _corpus():
    docs = []
    base = " ".join(WORDS * 3)
    docs.append((0, base))
    docs.append((1, base))  # exact dup
    docs.append((2, base + " lambda mu"))  # near dup
    docs.append((3, " ".join(WORDS[5:] * 4)))  # shares hot shingles
    docs.append((4, " ".join(reversed(WORDS)) + " " + base))  # embeds base
    docs.append((5, "nu xi omicron pi rho sigma tau"))  # unrelated
    docs.append((6, "one two"))  # too short for a shingle
    # a block of mutually-similar docs whose shared shingles are the
    # corpus-HOTTEST (the case jaccard_pairs' df cap can drop)
    hot = " ".join(["common phrase words"] * 6)
    for i in range(7, 12):
        docs.append((i, hot + f" tail{i}"))
    return docs


def test_prefix_join_matches_brute_force(spark):
    docs = _corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_jaccard_pairs(df).collect()
    }
    assert got == _brute(docs, 1, 2)
    assert got, "corpus must actually contain qualifying pairs"


def test_prefix_join_high_threshold(spark, monkeypatch):
    # the prefix filter's completeness argument holds at any threshold;
    # at 9/10 the prefixes are shortest, so a lost pair shows first
    from gclog_parser_spark.operators import dedup

    monkeypatch.setattr(dedup, "PREFIX_THRESHOLD", (9, 10))
    docs = _corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_jaccard_pairs(df).collect()
    }
    assert got == _brute(docs, 9, 10)
    assert (0, 1, 1.0) in got  # the exact dup survives theta=0.9


def test_prefix_join_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    out = prefix_jaccard_pairs(df)
    assert out.columns == ["doc_a", "doc_b", "jaccard"]
    assert out.count() == 0
