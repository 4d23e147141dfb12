"""containment_pairs: the asymmetric near-dup rule (subset documents)
on constructed corpora."""

from __future__ import annotations

import pyspark.sql.functions as F

from gclog_parser_spark.operators.dedup import containment_pairs


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_embedded_doc_has_full_containment_low_jaccard(spark):
    """A short article quoted verbatim inside a 5× boilerplate wrapper:
    C = 1.0 (every article shingle appears in the wrapper) while J is
    far below any dedup threshold — the case symmetric Jaccard
    misses."""
    article = " ".join(f"art{i}" for i in range(12))
    wrapper = (
        " ".join(f"nav{i}" for i in range(25))
        + f" {article} "
        + " ".join(f"foot{i}" for i in range(25))
    )
    docs = _docs(spark, [(1, article, "s"), (2, wrapper, "s")])
    out = containment_pairs(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.25


def test_unrelated_docs_produce_no_pairs(spark):
    docs = _docs(
        spark,
        [
            (1, "aa bb cc dd ee ff gg", "s"),
            (2, "hh ii jj kk ll mm nn", "s"),
        ],
    )
    assert containment_pairs(docs).count() == 0


def test_bucket_boundary_respected(spark):
    """Pairs only form within a bucket (the blocking key): identical
    docs in different sources never meet."""
    t = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = _docs(spark, [(1, t, "s1"), (2, t, "s2")])
    assert containment_pairs(docs).count() == 0


def test_empty_input(spark):
    docs = _docs(spark, []).where(F.lit(False))
    assert containment_pairs(docs).count() == 0
