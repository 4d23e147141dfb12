"""Every operator family over EMPTY input: no crash, schema intact,
zero rows out (or the operator's documented empty-shape).  Empty
partitions are routine at 10^12-row scale (a filter that eliminates a
whole date range, a replay of an empty batch) — operators must be
total over them."""

import pyspark.sql.functions as F  # noqa: F401
import pytest


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_dedup_family_empty(spark, empty_docs):
    from gclog_parser_spark.operators.dedup import (
        dedup_clusters,
        exact_dedup,
        jaccard_pairs,
        minhash_band_pairs,
        simhash_docs,
        simhash_pairs,
    )

    assert exact_dedup(empty_docs).count() == 0
    assert minhash_band_pairs(empty_docs).count() == 0
    assert simhash_docs(empty_docs).count() == 0
    assert simhash_pairs(empty_docs).count() == 0
    assert jaccard_pairs(empty_docs).count() == 0
    assert dedup_clusters(empty_docs).count() == 0


def test_textstats_family_empty(spark, empty_docs):
    from gclog_parser_spark.operators.textstats import (
        corpus_filter,
        corpus_ngrams,
        line_dedup,
        normalize_text,
        quality_stats,
        scrub_pii,
        strip_boilerplate,
        tfidf_topk,
    )

    assert quality_stats(empty_docs).count() == 0
    assert corpus_filter(empty_docs).count() == 0
    assert scrub_pii(empty_docs).count() == 0
    assert strip_boilerplate(empty_docs).count() == 0
    assert line_dedup(empty_docs).count() == 0
    assert normalize_text(empty_docs).count() == 0
    assert corpus_ngrams(empty_docs).count() == 0
    assert tfidf_topk(empty_docs, k=3).count() == 0


def test_sampling_and_quality_empty(spark, empty_docs, empty_events):
    from gclog_parser_spark.operators.quality import table_diff
    from gclog_parser_spark.operators.sampling import (
        hash_split,
        shard_by_tokens,
        stratified_sample,
    )

    assert hash_split(empty_docs).count() == 0
    assert stratified_sample(empty_docs, rates={"en": 0.5}).count() == 0
    assert shard_by_tokens(empty_docs, n_groups=4).count() == 0
    # empty vs empty reconciles to zero differences
    assert table_diff(
        empty_events, empty_events, key_cols=["event_id"]
    ).count() == 0


def test_table_diff_empty_vs_full(spark, empty_events, sf_dir):
    """Empty replica vs real table: every row classifies only_left."""
    from gclog_parser_spark.operators.quality import table_diff

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    diff = table_diff(ev, empty_events, key_cols=["event_id"])
    agg = diff.groupBy("diff_kind").count().collect()
    assert len(agg) == 1 and agg[0]["diff_kind"] == "only_left"
    assert agg[0]["count"] == ev.count()


def test_temporal_and_agg_empty(spark, empty_events):
    from gclog_parser_spark.operators.aggregate import (
        kmv_distinct,
        kmv_sketch,
        sliding_counts,
        value_histogram,
    )
    from gclog_parser_spark.operators.temporal import asof_join

    facts = empty_events.select("event_id", "user_id", "ts")
    quotes = empty_events.select(
        "user_id", "ts", F.col("value").alias("v")
    )
    assert asof_join(facts, quotes, key="user_id").count() == 0
    assert kmv_distinct(
        empty_events, "event_type", "user_id"
    ).count() == 0
    assert kmv_sketch(
        empty_events, "event_type", "user_id"
    ).count() == 0
    assert sliding_counts(empty_events).count() == 0
    assert value_histogram(empty_events, "value").count() == 0


def test_blocklist_and_parse_empty(spark, empty_docs):
    from gclog_parser_spark.operators.parse import parse_events
    from gclog_parser_spark.operators.webstats import (
        synth_urls,
        url_blocklist_filter,
    )

    assert url_blocklist_filter(
        synth_urls(empty_docs), ["example.com"]
    ).count() == 0
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, text string"
    )
    assert parse_events(pages, stitch="narrow").count() == 0
    assert parse_events(pages, stitch="window").count() == 0


def test_round3_session_ops_empty(spark, empty_docs):
    from gclog_parser_spark.operators.aggregate import heavy_hitters
    from gclog_parser_spark.operators.sampling import (
        domain_quota,
        leakage_safe_split,
        weighted_sample,
    )
    from gclog_parser_spark.operators.textstats import (
        split_contamination,
    )
    from gclog_parser_spark.operators.webstats import (
        canonicalize_url,
        synth_messy_urls,
    )

    words = empty_docs.select(F.col("text").alias("w"))
    assert heavy_hitters(words, "w", k=5).count() == 0
    assert domain_quota(empty_docs, max_per_group=3).count() == 0
    assert leakage_safe_split(empty_docs).count() == 0
    assert weighted_sample(
        empty_docs.withColumn("w", F.lit(0.5)), "w"
    ).count() == 0
    assert split_contamination(empty_docs).count() == 0
    assert canonicalize_url(synth_messy_urls(empty_docs)).count() == 0


def test_embedding_session_ops_empty(spark):
    from gclog_parser_spark.operators.similarity import (
        ann_recall_at_k,
        label_centroids,
    )

    empty_emb = spark.createDataFrame(
        [], "vec_id long, label int, embedding array<double>"
    )
    assert label_centroids(empty_emb).count() == 0
    for m in ("lsh", "int8"):
        assert ann_recall_at_k(
            empty_emb, [0, 1], k=5, method=m
        ).count() == 0


def test_round5_media_and_cusum_ops_empty(spark, empty_docs):
    """Round-5 operators over empty input: total, schema intact."""
    from gclog_parser_spark.operators.multimodal import (
        decode_media_features,
        media_audio_features,
        media_image_stats,
        media_phash_real,
        resize_media_real,
    )
    from gclog_parser_spark.operators.rates import pause_cusum
    from gclog_parser_spark.operators.sampling import corpus_manifest
    from gclog_parser_spark.operators.similarity import neardup_pairs
    from gclog_parser_spark.operators.enrich import (
        g1_humongous,
        g1_humongous_stats,
    )

    empty_media = spark.createDataFrame(
        [], "url string, payload binary"
    )
    for op in (
        decode_media_features, media_audio_features,
        media_image_stats, media_phash_real, resize_media_real,
    ):
        out = op(empty_media)
        assert out.count() == 0 and len(out.columns) >= 3, op.__name__

    empty_pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string,"
        " lang string"
    )
    assert g1_humongous(empty_pages).count() == 0
    assert g1_humongous_stats(empty_pages).count() == 0

    empty_ev = spark.createDataFrame(
        [], "url string, event_idx int, pause_seconds double"
    )
    assert pause_cusum(empty_ev).count() == 0
    assert corpus_manifest(empty_docs, n_groups=4).count() == 0

    empty_emb = spark.createDataFrame(
        [], "vec_id int, embedding array<float>, label string"
    )
    assert neardup_pairs(empty_emb).count() == 0


def test_round5_late_wave_ops_empty(spark, empty_docs, empty_events):
    from gclog_parser_spark.operators.graph import (
        kcore,
        label_propagation,
        trustrank,
    )
    from gclog_parser_spark.operators.rates import fleet_scorecard
    from gclog_parser_spark.operators.textstats import readability
    from gclog_parser_spark.operators.webstats import crawl_budget
    from gclog_parser_spark.operators.enrich import stall_rootcause
    from gclog_parser_spark.schema import PAGES_SCHEMA

    # scan-side operators: empty in -> empty out, schema intact
    r = readability(empty_docs)
    assert r.count() == 0 and "fk_grade" in r.columns
    empty_urls = spark.createDataFrame([], "doc_id long, url string")
    cb = crawl_budget(empty_urls)
    assert cb.count() == 0 and cb.columns == ["host", "n_pages", "quota"]
    empty_pages = spark.createDataFrame([], PAGES_SCHEMA)
    assert stall_rootcause(empty_pages).count() == 0

    # parsed-events rollup: empty events -> zero scorecard rows
    empty_gc = spark.createDataFrame(
        [],
        "url string, event_idx long, line_no long, gc_type string,"
        " jvm_age_seconds double, pause_seconds double,"
        " heap_after_bytes long",
    )
    assert fleet_scorecard(empty_gc).count() == 0

    # iterative graph ops document a LOUD empty-edge-set guard
    empty_edges = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="empty edge set"):
        label_propagation(empty_edges)
    with pytest.raises(ValueError, match="empty edge set"):
        kcore(empty_edges)
    with pytest.raises(ValueError, match="empty edge set"):
        trustrank(empty_edges, seeds)
