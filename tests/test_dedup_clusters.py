"""Connected-components dedup clustering (operators/dedup.py).

The reference has no dedup at all — this is the training-data superset's
stage 2 (pairs → clusters → canonical keeper).  Correctness here is
pinned on adversarial graph shapes; end-to-end value parity vs the
DuckDB recursive-CTE oracle runs in test_oracle_parity.py
(``dedup_clusters``).
"""

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.operators.dedup import (
    connected_components,
    dedup_clusters,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    stats = {}
    out = {
        r["node"]: r["component"]
        for r in connected_components(df, stats=stats).collect()
    }
    return out, stats


def test_two_components(spark):
    comp, _ = _cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_path_graph_converges_in_log_rounds(spark):
    # a 64-node chain is the adversarial case for plain min-label
    # propagation (O(diameter) = 63 rounds); alternating star must close
    # it in O(log n)
    n = 64
    comp, stats = _cc(spark, [(i, i + 1) for i in range(n - 1)])
    assert comp == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 8, stats


def test_duplicate_and_reversed_edges(spark):
    comp, _ = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 1), (3, 3)])
    assert comp == {1: 1, 2: 1, 3: 1}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0


def test_dedup_clusters_end_to_end(spark):
    # three exact copies + one unique doc: the copies share every
    # minhash band, so they form one cluster with the min doc_id keeping
    dup = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, dup, "en", "web", len(dup)),
            (7, dup, "en", "web", len(dup)),
            (4, dup, "en", "web", len(dup)),
            (9, "completely different words entirely here now", "en",
             "web", 44),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in dedup_clusters(docs).collect()
    }
    assert rows[1] == (1, True)
    assert rows[4] == (1, False)
    assert rows[7] == (1, False)
    assert rows[9] == (9, True)


def test_keeper_filter_is_the_deduped_corpus(spark):
    dup = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(i, dup, "en", "web", len(dup)) for i in range(5)]
        + [(99, "something else entirely different words", "en", "web", 39)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    kept = (
        dedup_clusters(docs)
        .where(F.col("is_keeper"))
        .select("doc_id")
        .collect()
    )
    assert sorted(r["doc_id"] for r in kept) == [0, 99]


def test_verified_pairs_filter_lucky_bands(spark):
    """est_jaccard = agreeing-signature fraction; exact copies estimate
    1.0, and no pair below the 0.5 estimate survives verification."""
    from gclog_parser_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_verified_pairs,
    )

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = dup.replace("kappa", "lambda mu nu xi omicron pi rho")
    docs = spark.createDataFrame(
        [
            (1, dup, "en", "web", len(dup)),
            (2, dup, "en", "web", len(dup)),
            (3, near, "en", "web", len(near)),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_verified_pairs(docs).collect()
    }
    assert est[(1, 2)] == 1.0
    assert all(e >= 0.5 for e in est.values())
    band = {(r["doc_a"], r["doc_b"])
            for r in minhash_band_pairs(docs).collect()}
    assert set(est) <= band


def test_simhash_pairs_banding_matches_bruteforce(spark):
    """Pigeonhole banding must lose NO pair with hamming <= bands-1:
    compare against the brute-force popcount over all 32-bit pairs.
    Docs 24 and 25 differ only in bit 18 of their simhash, so a 16-bit
    simhash would report them at hamming 0."""
    import itertools

    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.dedup import (
        simhash_docs,
        simhash_pairs,
    )

    base = "spark table scan merge join filter sort window state "
    rows = [
        (i, base * 3 + f"tail{i % 4} extra{i % 2}") for i in range(24)
    ] + [(24, base + "alt0"), (25, base + "alt70")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_docs(docs, bits=32).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want and len(want) > 0


def test_simhash_pairs_rejects_uncoverable_hamming(spark):
    # the pigeonhole join behind simhash_pairs (3 of 4 bands) refuses a
    # distance it cannot cover
    from gclog_parser_spark.operators.dedup import _hamming_pairs, simhash_docs

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    sigs = simhash_docs(docs, bits=32)
    with pytest.raises(ValueError):
        _hamming_pairs(sigs, "doc_id", "simhash", 32, 4, 4, ("a", "b"))


def test_simhash_pairs_plan_is_equi_join(spark):
    """The band join must plan as a hash equi-join on (band_idx,
    band_val) — never a cartesian/broadcast-nested-loop over all doc
    pairs."""
    from gclog_parser_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} x y z") for i in range(8)],
        "doc_id long, text string",
    )
    plan = (
        simhash_pairs(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_source_leakage_matrix(spark):
    """Identical texts force MinHash candidate pairs with certainty;
    the matrix canonicalizes (least, greatest) and separates diagonal
    (within-source reuse) from cross-source leakage."""
    from gclog_parser_spark.operators.dedup import cross_source_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta"
    u = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, t, "en", "zz_src", len(t)),   # dup of 1 across sources
            (1, t, "en", "aa_src", len(t)),
            (2, u, "en", "aa_src", len(u)),   # dup of 3 within source
            (3, u, "en", "aa_src", len(u)),
            (4, "totally unrelated words here", "en", "bb_src", 29),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_pairs(docs).collect()
    }
    assert set(got) == {("aa_src", "zz_src"), ("aa_src", "aa_src")}
    cross = got[("aa_src", "zz_src")]
    assert cross["cross_source"] is True
    assert cross["n_pairs"] == 1 and cross["n_docs"] == 2
    diag = got[("aa_src", "aa_src")]
    assert diag["cross_source"] is False
    assert diag["n_pairs"] == 1 and diag["n_docs"] == 2
