"""Deterministic hash sampling / splitting / quality filtering
(operators/sampling.py, textstats.corpus_filter).

Value parity vs DuckDB runs in test_oracle_parity.py (corpus_split /
corpus_sample / corpus_filter); here we pin the determinism and
distribution properties the 100 TB design depends on.
"""

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.operators.sampling import (
    hash_split,
    stratified_sample,
)
from gclog_parser_spark.operators.textstats import corpus_filter


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text for doc "), F.col("id")).alias("text"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("fr")
        .alias("lang"),
        F.lit("src0").alias("source"),
    ).cache()


def test_split_is_deterministic_and_exhaustive(docs):
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    assert len(a) == 2000


def test_split_fractions_approximate_weights(docs):
    counts = (
        hash_split(docs).groupBy("split").count().collect()
    )
    by = {r["split"]: r["count"] / 2000 for r in counts}
    assert abs(by["train"] - 0.9) < 0.03
    assert abs(by["val"] - 0.05) < 0.02
    assert abs(by["test"] - 0.05) < 0.02


def test_split_stable_under_corpus_growth(spark, docs):
    """A doc's split must not change when new docs arrive — the property
    sorted/percentile splits lack."""
    small = docs.where(F.col("doc_id") < 500)
    full = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    sub = {r["doc_id"]: r["split"] for r in hash_split(small).collect()}
    assert all(full[k] == v for k, v in sub.items())


def test_split_salt_decorrelates(docs):
    # hash_split and pack_sequences draw from the same md5 family under
    # different salts, so a doc's split says nothing about its pack order
    from gclog_parser_spark.operators.sampling import hash_bucket

    rows = docs.select(
        hash_bucket(F.col("doc_id"), "split").alias("s"),
        hash_bucket(F.col("doc_id"), "pack").alias("p"),
    ).collect()
    assert sum(r.s == r.p for r in rows) < len(rows) / 10
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert set(a.values()) == {"train", "val", "test"}


def test_stratified_rates_respected(docs):
    out = stratified_sample(
        docs, rates={"en": 0.5, "de": 0.1}, default_rate=0.0
    )
    counts = {
        r["lang"]: r["count"]
        for r in out.groupBy("lang").count().collect()
    }
    # per-stratum base: ~667 docs each
    assert abs(counts["en"] / 667 - 0.5) < 0.08
    assert abs(counts.get("de", 0) / 667 - 0.1) < 0.05
    assert "fr" not in counts  # default_rate=0 drops the stratum


def test_sample_is_subset_and_deterministic(docs):
    out = stratified_sample(docs, rates={"en": 0.3}, default_rate=0.05)
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in out.collect()}
    assert ids1 == ids2
    assert ids1 <= {r["doc_id"] for r in docs.collect()}


def test_corpus_filter_reasons(spark):
    long_ok = (
        "the quick brown fox and the lazy dog walk to the old town "
    ) * 8  # ~470 chars, sane ratios
    rows = [
        (1, "tiny", "en", "s"),                       # too_short
        (2, long_ok, "en", "s"),                      # keep
        (3, "x" * 30000, "en", "s"),                  # too_long
        (4, ("qwertyuiopasdfghjkl " * 30), "en", "s"),  # low_stopwords
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source"]
    )
    out = {
        r["doc_id"]: (r["keep"], r["reject_reason"])
        for r in corpus_filter(docs).collect()
    }
    assert out[1] == (False, "too_short")
    assert out[2] == (True, None)
    assert out[3] == (False, "too_long")
    assert out[4][0] is False
    assert out[4][1] in ("low_stopwords", "word_len_high")


def test_filter_plan_is_scan_side(docs):
    """No exchange anywhere: filter + split + sample are projections."""
    plan = corpus_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    plan2 = hash_split(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2


def test_shard_by_tokens_budget_and_determinism(spark):
    from gclog_parser_spark.operators.sampling import shard_by_tokens

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.lit(f"w{j}") for j in range(20)]
        ).alias("text"),
    )
    out = shard_by_tokens(docs, tokens_per_shard=200, n_groups=4)
    rows = out.collect()
    assert len(rows) == 1000
    again = {
        (r["doc_id"], r["shard_group"], r["shard_idx"])
        for r in shard_by_tokens(
            docs, tokens_per_shard=200, n_groups=4
        ).collect()
    }
    assert {(r["doc_id"], r["shard_group"], r["shard_idx"])
            for r in rows} == again  # deterministic
    # every shard's token total lands in [target, target + max_doc)
    # except each group's final partial shard
    totals = (
        out.groupBy("shard_group", "shard_idx")
        .agg(
            F.sum("doc_tokens").alias("t"),
            F.max("shard_idx").alias("_"),
        )
        .collect()
    )
    per_group_last = {}
    for r in totals:
        g = r["shard_group"]
        per_group_last[g] = max(
            per_group_last.get(g, -1), r["shard_idx"]
        )
    max_doc = 20
    for r in totals:
        if r["shard_idx"] != per_group_last[r["shard_group"]]:
            assert 200 <= r["t"] < 200 + max_doc, r
    # parallel shape: groups partition the docs evenly-ish
    sizes = [
        r["n"]
        for r in out.groupBy("shard_group")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(sizes) == 4 and min(sizes) > 100


def test_shard_budget_holds_at_32_groups(spark):
    """The contract runs n_groups=32 (SHARD_GROUPS): token budgets must
    hold per (group, shard) at cluster-scale group counts too."""
    from gclog_parser_spark.operators.sampling import shard_by_tokens

    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.lit(f"w{j}") for j in range(20)]
        ).alias("text"),
    )
    out = shard_by_tokens(docs, tokens_per_shard=100, n_groups=32)
    max_doc = out.agg(F.max("doc_tokens")).collect()[0][0]
    totals = (
        out.groupBy("shard_group", "shard_idx")
        .agg(F.sum("doc_tokens").alias("t"))
        .collect()
    )
    last = {}
    for r in totals:
        last[r["shard_group"]] = max(
            last.get(r["shard_group"], -1), r["shard_idx"]
        )
    # a doc overshooting a boundary stays in the shard it started in,
    # shortening the next one: totals land in (target-max, target+max)
    for r in totals:
        if r["shard_idx"] != last[r["shard_group"]]:
            assert 100 - max_doc < r["t"] < 100 + max_doc, r
    groups = {r["shard_group"] for r in totals}
    assert groups == set(range(32))  # all 32 groups carry work


def test_shard_groups_default_to_parallelism(spark):
    """Default n_groups tracks defaultParallelism — the running-sum
    window parallelizes with the cluster, not a constant 8."""
    from gclog_parser_spark.operators.sampling import shard_by_tokens

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    dp = spark.sparkContext.defaultParallelism
    out = shard_by_tokens(docs)
    n = out.select("shard_group").distinct().count()
    assert n == min(dp, 4000) == dp


def test_domain_quota_two_path_keep_rule(spark):
    from gclog_parser_spark.operators.sampling import (
        domain_quota,
        hash_bucket,
    )

    rows = [(f"a{i}", "small") for i in range(5)] + [
        (f"b{i}", "big") for i in range(30)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, source string"
    ).repartition(6)
    out = domain_quota(docs, max_per_group=10).collect()
    small = sorted(r["doc_id"] for r in out if r["source"] == "small")
    big = {r["doc_id"] for r in out if r["source"] == "big"}
    # under-quota group passes through whole
    assert small == [f"a{i}" for i in range(5)]
    # over-quota group keeps exactly the 10 lowest buckets
    buckets = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", hash_bucket(F.col("doc_id"), "quota").alias("b")
        ).collect()
        if r["doc_id"].startswith("b")
    }
    expected = set(sorted(buckets, key=lambda d: (buckets[d], d))[:10])
    assert big == expected


def test_domain_quota_skips_window_when_no_group_over(spark):
    from gclog_parser_spark.operators.sampling import domain_quota

    docs = spark.createDataFrame(
        [(f"d{i}", f"s{i % 4}") for i in range(12)],
        "doc_id string, source string",
    )
    q = domain_quota(docs, max_per_group=10)
    assert q.count() == 12
    plan = q._jdf.queryExecution().executedPlan().toString()
    # exactly ONE Window exec (the over-quota branch; the pass-through
    # branch is a plain broadcast anti-join)...
    assert plan.count("Window [row_number()") == 1
    # ...and Spark pushes the rank limit down as a partial-per-map-task
    # top-N (WindowGroupLimit), so even a 10^9-row hot host ships at
    # most N rows per map task into the rank exchange
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_leakage_safe_split_keeps_neardups_together(spark):
    from gclog_parser_spark.operators.sampling import leakage_safe_split

    # four exact-duplicate families (each clusters under MinHash) plus
    # singletons; no family may straddle splits
    fams = {
        f"fam{f}": " ".join(f"word{f} tok{i}" for i in range(30))
        for f in range(4)
    }
    rows = []
    did = 0
    for f, text in fams.items():
        for _ in range(3):
            rows.append((did, text, f))
            did += 1
    for i in range(20):
        text = " ".join(f"s{i}w{j}" for j in range(30))
        rows.append((did, text, "solo"))
        did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = leakage_safe_split(docs).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # the duplicate families really did cluster (3 members each)
    sizes = sorted(
        sum(1 for r in out if r["cluster_id"] == c)
        for c in by_cluster
        if sum(1 for r in out if r["cluster_id"] == c) > 1
    )
    assert sizes == [3, 3, 3, 3]
    assert len(out) == did


def test_weighted_sample_rates_and_determinism(spark):
    from gclog_parser_spark.operators.sampling import weighted_sample

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        # weights 0.0 / 0.5 / 1.0 / out-of-range 1.7 (clamps to 1)
        F.when(F.col("id") % 4 == 0, 0.0)
        .when(F.col("id") % 4 == 1, 0.5)
        .when(F.col("id") % 4 == 2, 1.0)
        .otherwise(1.7)
        .alias("w"),
    )
    out = weighted_sample(docs, "w")
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {r["doc_id"] for r in out.collect()}  # deterministic
    by_w = {0: 0, 1: 0, 2: 0, 3: 0}
    for d in kept:
        by_w[d % 4] += 1
    assert by_w[0] == 0            # p=0 keeps nothing
    assert by_w[2] == 1000         # p=1 keeps everything
    assert by_w[3] == 1000         # clamped to 1
    assert abs(by_w[1] / 1000 - 0.5) < 0.06
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-side filter


# ---- DSIR importance weights --------------------------------------------


def test_dsir_target_docs_score_highest(spark):
    """Docs that look like the target score above docs that don't —
    the resampling property the weights exist for."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.sampling import importance_weights

    targetish = "science physics theorem proof lemma"
    crawlish = "buy cheap pills casino winner click"
    rows = (
        [(i, targetish, "en") for i in range(5)]
        + [(100 + i, crawlish, "en") for i in range(5)]
        + [(200, f"{targetish} {crawlish}", "en")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = docs.where(F.col("doc_id") < 5)
    out = {r["doc_id"]: r["dsir_score"]
           for r in importance_weights(docs, target).collect()}
    assert out[0] > out[200] > out[100]  # target > mixed > spam
    # wide separation, not a near-tie (smoothing at toy counts pulls
    # all ratios toward (Cq+B)/(Ct+B), so 1.0 is not the pivot here)
    assert out[0] > 4 * out[100]


def test_dsir_weights_feed_weighted_sampler(spark, sf_dir):
    """The produced shape composes with corpus_weighted_sample: join
    weights back and draw — end-to-end selection pipeline."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.sampling import (
        importance_weights,
        weighted_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") % 7 == 0))
    w = importance_weights(docs, target).select(
        "doc_id", (F.col("dsir_score") * 0.4).alias("weight")
    )
    joined = docs.join(w, "doc_id")
    n_all = joined.count()
    kept = weighted_sample(joined, "weight")
    n_kept = kept.count()
    assert 0 < n_kept < n_all
    # determinism: same draw twice
    assert n_kept == weighted_sample(joined, "weight").count()


def test_dsir_empty_target_is_uniform_prior(spark):
    """With an empty target every bucket ratio collapses to the same
    smoothed constant — all docs score equal (no silent NaN/div0)."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.sampling import importance_weights

    docs = spark.createDataFrame(
        [(1, "aa bb cc", "en"), (2, "dd ee ff", "en")],
        "doc_id long, text string, lang string",
    )
    target = docs.where(F.lit(False))
    scores = [r["dsir_score"]
              for r in importance_weights(docs, target).collect()]
    assert len(scores) == 2
    assert all(s is not None and s > 0 for s in scores)


class TestPackSequences:
    """Concat-and-chunk packing invariants (value parity vs DuckDB is
    tests/test_oracle_parity.py[corpus_pack])."""

    def _pack(self, spark, sf_dir):
        from gclog_parser_spark.operators.sampling import pack_sequences

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return pack_sequences(docs, seq_len=64, n_groups=4)

    def test_spans_partition_each_doc_exactly(self, spark, sf_dir):
        """Per doc: spans are contiguous, start at 0, end at
        doc_tokens — no token lost or duplicated across sequences."""
        import pyspark.sql.functions as F
        from gclog_parser_spark.operators.textstats import TOKEN_RE

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = docs.select(
            "doc_id",
            F.regexp_count("text", F.lit(TOKEN_RE)).cast("long").alias("nt"),
        )
        per_doc = (
            self._pack(spark, sf_dir)
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("tok_end") - F.col("tok_start")).alias("cov"),
                F.min("tok_start").alias("lo"),
                F.max("tok_end").alias("hi"),
            )
            .join(toks, "doc_id")
        )
        bad = per_doc.where(
            (F.col("cov") != F.col("nt"))
            | (F.col("lo") != 0)
            | (F.col("hi") != F.col("nt"))
        )
        assert bad.count() == 0

    def test_full_sequences_hold_exactly_seq_len(self, spark, sf_dir):
        """Every sequence except each group's last carries exactly
        seq_len tokens — the equal-length rows a trainer needs."""
        import pyspark.sql.functions as F

        seqs = (
            self._pack(spark, sf_dir)
            .groupBy("pack_group", "seq_idx")
            .agg(F.sum(F.col("tok_end") - F.col("tok_start")).alias("n"))
        )
        last = seqs.groupBy("pack_group").agg(
            F.max("seq_idx").alias("seq_idx")
        )
        full = seqs.join(last, ["pack_group", "seq_idx"], "left_anti")
        assert full.where(F.col("n") != 64).count() == 0
        # and sequence ids are dense from 0 per group
        import pyspark.sql.functions as F2

        dense = seqs.groupBy("pack_group").agg(
            F2.count("*").alias("c"), F2.max("seq_idx").alias("m")
        )
        assert dense.where(F2.col("c") != F2.col("m") + 1).count() == 0

    def test_rerun_is_byte_stable(self, spark, sf_dir):
        a = sorted(map(tuple, self._pack(spark, sf_dir).collect()))
        b = sorted(map(tuple, self._pack(spark, sf_dir).collect()))
        assert a == b

    def test_default_groups_follow_parallelism(self, spark, sf_dir):
        from gclog_parser_spark.operators.sampling import pack_sequences

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = {
            r["pack_group"]
            for r in pack_sequences(docs, seq_len=64)
            .select("pack_group")
            .distinct()
            .collect()
        }
        assert max(got) < spark.sparkContext.defaultParallelism


def test_epoch_shuffle_is_a_permutation(spark, sf_dir):
    """Every doc appears exactly once; positions are 0..n-1 contiguous
    within each shard."""
    from gclog_parser_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = epoch_shuffle(docs, epoch=1).collect()
    assert len(out) == docs.count()
    assert len({r["doc_id"] for r in out}) == len(out)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))


def test_epoch_shuffle_deterministic_and_epoch_independent(spark, sf_dir):
    """Re-running an epoch is bit-identical; different epochs draw
    different permutations."""
    from gclog_parser_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e1a = sorted(map(tuple, epoch_shuffle(docs, epoch=1).collect()))
    e1b = sorted(map(tuple, epoch_shuffle(docs, epoch=1).collect()))
    e2 = sorted(map(tuple, epoch_shuffle(docs, epoch=2).collect()))
    assert e1a == e1b
    order1 = {t[0]: (t[2], t[3]) for t in e1a}
    order2 = {t[0]: (t[2], t[3]) for t in e2}
    assert order1 != order2


def test_epoch_shuffle_no_global_sort(spark, sf_dir):
    """The plan shards then window-sorts per partition: one hash
    exchange on shard, NO range partitioning (global sort) and no
    Python."""
    from gclog_parser_spark.operators.sampling import epoch_shuffle
    from gclog_parser_spark.plans.lint import plan_string

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_string(epoch_shuffle(docs, epoch=1))
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_corpus_manifest_rerun_stable_and_content_sensitive(spark, sf_dir):
    """The release-equality property the manifest exists for: two runs
    over identical content produce BYTE-EQUAL manifests; flipping one
    character in one document changes exactly that doc's shard row
    checksum (n_docs/n_tokens unchanged when the token count is
    unchanged), never any other row."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.sampling import corpus_manifest

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    m1 = sorted(map(tuple, corpus_manifest(docs, n_groups=8).collect()))
    m2 = sorted(map(tuple, corpus_manifest(docs, n_groups=8).collect()))
    assert m1 == m2 and m1  # re-run byte-stable

    tweaked = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("!"))
        ).otherwise(F.col("text")),
    )
    m3 = sorted(
        map(tuple, corpus_manifest(tweaked, n_groups=8).collect())
    )
    assert m3 != m1
    diff = [(a, b) for a, b in zip(m1, m3) if a != b]
    assert len(diff) == 1  # exactly one shard row moved
    a, b = diff[0]
    assert a[:2] == b[:2]  # same (shard_group, shard_idx)
    assert a[2] == b[2]    # n_docs unchanged
    assert a[-1] != b[-1]  # checksum caught the edit


def test_corpus_manifest_null_text_matches_oracle(spark):
    """A NULL-text doc contributes the same checksum tick in Spark and
    in the DuckDB oracle (both hash it as ``doc_id:``)."""
    import duckdb
    import pandas as pd

    from gclog_parser_spark.operators.sampling import corpus_manifest
    from gclog_parser_spark.oracle_text import corpus_manifest_sql

    rows = [(0, None), (1, "alpha beta gamma"), (2, "delta epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["shard_group"], r["shard_idx"], r["n_docs"], r["n_tokens"],
         int(r["content_checksum"]))
        for r in corpus_manifest(docs, n_groups=2).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = sorted(
        (g, i, n, t, int(c))
        for g, i, n, t, _, _, c in con.execute(
            corpus_manifest_sql(n_groups=2)
        ).fetchall()
    )
    assert got == want
    assert sum(n for _, _, n, _, _ in got) == 3
