"""Temperature-based domain mix weights and hashed-linear-classifier
inference: behavior proofs the uniform driver testdata can't exercise
(skewed domains, score sensitivity to word order via bigrams)."""

import math

import pyspark.sql.functions as F

from gclog_parser_spark.operators.sampling import domain_mix_weights
from gclog_parser_spark.operators.textstats import (
    classifier_score,
    hashed_feature_weights,
)


def test_domain_mix_flattens_skew(spark):
    # 900 head docs, 90 mid, 10 tail — the crawl shape
    rows = (
        [(i, "x", "head") for i in range(900)]
        + [(900 + i, "x", "mid") for i in range(90)]
        + [(990 + i, "x", "tail") for i in range(10)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = {r.domain: r for r in domain_mix_weights(docs).collect()}
    assert out["head"].boost < 1 < out["tail"].boost
    assert out["mid"].boost > out["head"].boost
    # alpha = 1/2: mix ratios follow sqrt of count ratios
    got = out["head"].mix_weight / out["tail"].mix_weight
    assert abs(got - math.sqrt(90)) < 0.01
    # tempered weights still a distribution
    assert abs(sum(r.mix_weight for r in out.values()) - 1.0) < 1e-4


def test_classifier_score_is_order_sensitive(spark):
    # same unigrams, different bigrams -> different hashed features
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in classifier_score(docs).collect()}
    assert rows[0].n_feats == rows[1].n_feats == 5  # 3 uni + 2 bi
    assert rows[0].score != rows[1].score


def test_classifier_keep_is_sign_of_tick_sum(spark):
    docs = spark.createDataFrame(
        [(i, f"word{i} word{i + 1} word{i + 2}") for i in range(50)],
        "doc_id long, text string",
    )
    for r in classifier_score(docs).collect():
        assert r.keep == (r.score >= 0) or r.score == 0.0


def test_classifier_honors_custom_weight_relation(spark, monkeypatch):
    # an all-negative model must reject everything
    from gclog_parser_spark.operators import textstats

    wt = hashed_feature_weights(spark).select(
        "bucket", F.lit(-5).alias("w_tick")
    )
    monkeypatch.setattr(textstats, "hashed_feature_weights", lambda s: wt)
    docs = spark.createDataFrame(
        [(0, "some text here")], "doc_id long, text string"
    )
    row = classifier_score(docs).collect()[0]
    assert row.keep is False
    assert row.score == -0.000005
