"""Deterministic sampling & splitting for training-data pipelines.

At 100 TB the only sampling that survives production is *hash-based and
deterministic*: `rand()` changes under task retry/preemption (a resumed
partition re-rolls its dice, breaking exactly-once routing and any
train/test split audit), whereas a content-keyed hash bucket is a pure
projection — no shuffle, no state, reproducible on any cluster size,
and stable across checkpoint resume (plans/ledger.py).  Every operator
here is a scan-side filter/projection (zero exchanges) built on the
portable md5-60bit hash (operators/dedup.md5_long) so the DuckDB oracle
verifies assignments value-for-value.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gclog_parser_spark.operators.dedup import _words, md5_long

#: hash-bucket resolution: rates are exact to 1e-6
BUCKETS = 1_000_000


def hash_bucket(key_col, salt: str):
    """Deterministic bucket in [0, BUCKETS) from (salt, key).  The salt
    decorrelates independent samplings of the same corpus (a split salt
    and a sample salt draw independent 'randomness')."""
    return (
        md5_long(F.concat_ws(":", F.lit(salt), key_col.cast("string")))
        % BUCKETS
    )


def hash_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    key: str = "doc_id",
) -> DataFrame:
    """Assign every row to a named split (train/val/test by default) by
    hash bucket — disjoint, exhaustive, deterministic, and stable under
    corpus growth (a doc's split never changes when other docs are
    added, unlike sorted/percentile splits)."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    b = hash_bucket(F.col(key), "split")
    names = list(weights)
    cum = 0.0
    thresholds = []
    for name in names:
        cum += weights[name] / total
        thresholds.append((name, int(round(cum * BUCKETS))))
    col = F.when(b < thresholds[0][1], F.lit(names[0]))
    for name, thr in thresholds[1:-1]:
        col = col.when(b < thr, F.lit(name))
    col = col.otherwise(F.lit(names[-1]))
    return docs.withColumn("split", col)


def shard_by_tokens(
    docs: DataFrame,
    tokens_per_shard: int = 4096,
    n_groups: int | None = None,
) -> DataFrame:
    """Assign documents to ~``tokens_per_shard``-token output shards —
    the write-side packing stage of a training pipeline (shard =
    output file / tar member of bounded token budget).

    Scale shape: a GLOBAL running sum would serialize on one task, so
    docs first hash into ``n_groups`` independent groups and the
    running token total is a ``partitionBy(group)`` window ordered by
    the (bucket, doc_id) hash order — parallel across groups, one
    exchange, deterministic.  ``shard = (group, floor(cum/size))``;
    each group packs its shards independently; a doc that overshoots a
    boundary stays in the shard it started in (shortening the next), so
    shard token totals land in (target - max_doc_tokens, target +
    max_doc_tokens).  ``n_groups`` defaults
    to the cluster's ``defaultParallelism`` (= O(executor cores)), so
    the running-sum stage parallelizes with the cluster instead of
    capping at a constant; pass it explicitly when shard assignment
    must be reproducible across differently-sized clusters.
    Determinism at a fixed n_groups (content-keyed order, no
    rand/monotonically_increasing_id) makes re-runs byte-stable."""
    from gclog_parser_spark.operators.textstats import TOKEN_RE

    if n_groups is None:
        n_groups = docs.sparkSession.sparkContext.defaultParallelism

    b = hash_bucket(F.col("doc_id"), "shard")
    toks = F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    base = docs.select(
        F.col("doc_id"),
        (b % n_groups).cast("int").alias("shard_group"),
        b.alias("order_key"),
        toks.cast("long").alias("doc_tokens"),
    )
    w = (
        Window.partitionBy("shard_group")
        .orderBy("order_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("doc_tokens").over(w)
    return base.select(
        "doc_id",
        "shard_group",
        "doc_tokens",
        # subtract the doc's own tokens so a doc spanning the boundary
        # stays in the shard it started in
        F.floor((cum - F.col("doc_tokens")) / tokens_per_shard)
        .cast("int")
        .alias("shard_idx"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep a per-``lang`` fraction of rows (e.g. down-sample dominant
    languages, keep all of a rare one).  The rate lookup is a literal
    CASE expression (no join — the strata map is query metadata, not
    data), so the whole operator stays a codegen'd scan filter."""
    b = hash_bucket(F.col("doc_id"), "sample")
    thr = None
    for value, rate in sorted(rates.items()):
        cond = F.col("lang") == value
        lit = F.lit(int(round(rate * BUCKETS)))
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    thr = (
        thr.otherwise(F.lit(int(round(default_rate * BUCKETS))))
        if thr is not None
        else F.lit(int(round(default_rate * BUCKETS)))
    )
    return docs.where(b < thr)


def domain_quota(
    docs: DataFrame,
    max_per_group: int,
) -> DataFrame:
    """Cap rows per ``source`` — the C4/web-corpus 'at most N pages per
    host' balance rule.  Which N survive is the content-keyed
    pseudo-random choice used everywhere in this module (lowest
    ``hash_bucket`` wins, ``doc_id`` breaks bucket collisions): the kept
    set is a pure function of the group's membership — independent of
    arrival order, partitioning, retries, and cluster size.

    Scale shape — the zipf-aware two-path plan: one tiny
    partial-aggregated count per group finds the over-quota groups
    (the head of the host distribution — broadcastable by
    construction, it's the set a curator audits by hand); the long
    tail of under-quota groups passes through with a broadcast
    anti-join, NO sort at all; only over-quota rows take the
    per-group rank window — and Catalyst pushes the rank limit down
    as ``WindowGroupLimit`` (plan-pinned), so each map task ships at
    most N rows per hot group into the rank exchange.  A naive global
    row_number would instead sort every group's full row set.

    Returns the kept rows as (doc_id, source, bucket).
    """
    b = hash_bucket(F.col("doc_id"), "quota")
    base = docs.select("doc_id", "source", b.alias("bucket"))
    over = F.broadcast(
        base.groupBy("source")
        .agg(F.count("*").alias("n_in_group"))
        .where(F.col("n_in_group") > max_per_group)
        .select("source")
    )
    under_rows = base.join(over, "source", "left_anti")
    w = Window.partitionBy("source").orderBy("bucket", "doc_id")
    over_rows = (
        base.join(over, "source", "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_per_group)
        .drop("rn")
    )
    return under_rows.unionByName(over_rows).select(
        "doc_id", "source", "bucket"
    )


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Train/val/test split keyed on the near-dup CLUSTER rather than
    the document — the leakage-safe protocol: a plain per-doc split
    puts one copy of a near-duplicated page in train and another in
    test, and the eval silently measures memorization.  Here every
    member of a MinHash-LSH connected component (dedup_clusters)
    hashes on its shared cluster_id, so near-duplicates move between
    splits as a unit by construction.

    Cost on top of the plain split is the clustering itself (LSH
    pairs + O(log n) CC rounds — the pipeline usually already ran it
    for dedup); the split assignment stays a scan-side projection of
    the cluster relation.  Returns (doc_id, cluster_id, split)."""
    from gclog_parser_spark.operators.dedup import dedup_clusters

    cl = dedup_clusters(docs).select("doc_id", "cluster_id")
    return hash_split(cl, key="cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


def weighted_sample(
    docs: DataFrame,
    weight_col,
) -> DataFrame:
    """Keep each row with probability equal to its own ``weight_col``
    (clamped to [0,1]) — per-row importance resampling, e.g. keep
    probability ∝ quality score so the corpus tilts toward high
    quality without a hard cutoff's cliff.  Same discipline as every
    sampler here: the draw is the content-keyed hash bucket, not
    ``rand()`` — a doc's fate is a pure function of (doc_id,
    weight), reproducible under retry/preemption/re-run and across
    cluster sizes — and the whole operator is a codegen'd scan filter
    (zero exchanges).  Rates are exact to 1/BUCKETS (1e-6): the keep
    rule is ``bucket < round(clamp(w)·BUCKETS)``, integer comparison
    in both engines."""
    b = hash_bucket(F.col("doc_id"), "wsample")
    w = F.least(
        F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)),
        F.lit(1.0),
    )
    return docs.where(b < F.round(w * BUCKETS).cast("long"))


def importance_weights(
    raw: DataFrame, target: DataFrame, n_buckets: int = 1024
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how target-like its hashed unigram features
    are — the weight that turns a uniform crawl sample into a sample
    from the target domain.  Per md5-hashed feature bucket ``b``,
    ratio = p_target(b) / p_raw(b) with add-one smoothing over
    ``n_buckets``; a document's score is its tf-weighted mean bucket
    ratio (> 1 ⇒ more target-like than the crawl average).

    The paper uses the log-likelihood ratio; the RATIONAL mean keeps
    the pipeline transcendental-free (the tfidf/ccnet trick — 1-ulp
    libm drift would break cross-engine bit-parity) and orders
    documents the same way wherever the ratio distribution is peaked.
    Ratios quantize to integer ticks (one IEEE multiply/divide chain,
    exactly specified, then F.round = DuckDB round), so every
    cross-row sum is an exact BIGINT.

    Scale shape: one (doc, bucket) postings exchange over the raw
    corpus; the bucket dimension is ≤ ``n_buckets`` rows and
    BROADCASTS back onto the postings (no second corpus shuffle); the
    target side only ever aggregates to that same tiny dimension, so
    the target corpus can be any size; one doc-keyed exchange for the
    mean.  Returns ``(doc_id, lang, n_tokens, dsir_score)``.
    """
    def buckets(df: DataFrame, *keep: str) -> DataFrame:
        return df.select(
            *keep, F.explode(_words(F.col("text"))).alias("word")
        ).select(
            *keep, (md5_long(F.col("word")) % n_buckets).alias("b")
        )

    tf = (
        buckets(raw, "doc_id", "lang")
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("tf"))
    )
    q = tf.groupBy("b").agg(F.sum("tf").alias("cq"))
    t = buckets(target).groupBy("b").agg(F.count("*").alias("ct"))
    dim = q.join(t, "b", "left").na.fill(0, ["ct"])
    tot = dim.agg(
        F.sum("cq").alias("cq_tot"), F.sum("ct").alias("ct_tot")
    )
    B = F.lit(n_buckets)
    tick = F.round(
        (F.col("ct") + 1).cast("double")
        * (F.col("cq_tot") + B).cast("double")
        / ((F.col("ct_tot") + B).cast("double")
           * (F.col("cq") + 1).cast("double"))
        * 1_000_000
    ).cast("long")
    return (
        tf.join(F.broadcast(dim), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * tick).alias("ticks"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(
                F.col("ticks") / F.col("n_tokens") / F.lit(1e6), 6
            ).alias("dsir_score"),
        )
    )


def domain_mix_weights(docs: DataFrame) -> DataFrame:
    """Temperature-based training-mix design (the multilingual /
    multi-domain resampling rule of mBERT/XLM-R and the Pile's domain
    weights): flatten the corpus's domain distribution by sampling
    domains ∝ p^α with α = 1/2, boosting rare domains and damping the
    crawl-dominant head before training.

    α is FIXED at 1/2 because ``sqrt`` is one of the IEEE-754
    exactly-rounded operations — bit-identical in every engine —
    where a general ``pow(p, α)`` routes through exp/log and drifts
    by ulps per libm.  Cross-domain normalization sums integer ticks
    (``round(1e6·sqrt(n))``, F.round = DuckDB round = HALF_UP), so no
    float accumulation order exists; each output share is one IEEE
    division of exact integers, rounded to 6 dp.

    Returns one row per domain: ``n_docs``, ``share`` (natural
    probability n/N), ``mix_weight`` (the α-tempered sampling
    probability √n/Σ√n), and ``boost`` = mix_weight/share — the
    per-domain oversampling factor a weighted sampler (e.g.
    ``weighted_sample``) applies downstream.

    Scale shape: one partial-aggregated exchange on the domain key
    collapses the corpus to #domains rows; the grand totals ride back
    as a broadcast one-row relation.  Driver holds nothing.
    Reference has no sampling ops; north-rule mix design
    (BASELINE.json)."""
    per = docs.groupBy(F.col("source").alias("domain")).agg(
        F.count("*").alias("n_docs")
    )
    per = per.withColumn(
        "tick", F.round(F.sqrt(F.col("n_docs")) * 1_000_000).cast("long")
    )
    tot = per.agg(
        F.sum("n_docs").alias("N"), F.sum("tick").alias("T")
    )
    share = F.round(F.col("n_docs") / F.col("N"), 6)
    mix = F.round(F.col("tick") / F.col("T"), 6)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n_docs",
            share.alias("share"),
            mix.alias("mix_weight"),
            F.round(mix / share, 6).alias("boost"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 128,
    n_groups: int | None = None,
) -> DataFrame:
    """Pack the corpus into fixed-``seq_len``-token training sequences
    (GPT-style concat-and-chunk): documents are concatenated in a
    deterministic content-keyed order and sliced every ``seq_len``
    tokens, so a document can SPAN sequence boundaries — the output is
    one row per (doc, sequence) span, ``(doc_id, pack_group, seq_idx,
    tok_start, tok_end)`` with ``[tok_start, tok_end)`` the doc-local
    token slice that lands in that sequence.  This is the step that
    turns a filtered corpus into the equal-length rows a trainer
    consumes; ``shard_by_tokens`` (above) solves the different problem
    of whole-doc output-file budgeting.

    Scale shape: a single global running sum would serialize on one
    task, so docs hash into ``n_groups`` independent pack groups
    (default ``defaultParallelism`` = O(executor cores)) and each
    group packs its own sequence id space — one exchange, window
    parallel across groups.  Content-keyed order (md5 bucket, never
    ``rand()``/``monotonically_increasing_id``) keeps re-runs and task
    retries byte-stable; pass ``n_groups`` explicitly when the packing
    must reproduce across differently-sized clusters.  Empty docs (0
    tokens) occupy no span and are dropped."""
    from gclog_parser_spark.operators.textstats import TOKEN_RE

    if n_groups is None:
        n_groups = docs.sparkSession.sparkContext.defaultParallelism

    b = hash_bucket(F.col("doc_id"), "pack")
    toks = F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    base = docs.select(
        F.col("doc_id"),
        (b % n_groups).cast("int").alias("pack_group"),
        b.alias("order_key"),
        toks.cast("long").alias("doc_tokens"),
    ).where(F.col("doc_tokens") > 0)
    w = (
        Window.partitionBy("pack_group")
        .orderBy("order_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = base.select(
        "doc_id",
        "pack_group",
        "doc_tokens",
        (F.sum("doc_tokens").over(w) - F.col("doc_tokens")).alias("off"),
    )
    first = F.floor(F.col("off") / seq_len).cast("long")
    last = (
        F.floor((F.col("off") + F.col("doc_tokens") - 1) / seq_len)
        .cast("long")
    )
    exploded = spans.select(
        "doc_id",
        "pack_group",
        "doc_tokens",
        "off",
        F.explode(F.sequence(first, last)).alias("seq_idx"),
    )
    return exploded.select(
        "doc_id",
        "pack_group",
        F.col("seq_idx").cast("long").alias("seq_idx"),
        F.greatest(
            F.col("seq_idx") * seq_len - F.col("off"), F.lit(0)
        ).cast("long").alias("tok_start"),
        F.least(
            (F.col("seq_idx") + 1) * seq_len - F.col("off"),
            F.col("doc_tokens"),
        ).cast("long").alias("tok_end"),
    )


def epoch_shuffle(docs: DataFrame, epoch: int) -> DataFrame:
    """Deterministic per-epoch global permutation of the corpus — the
    'reshuffle the training data every epoch' step of an LLM data
    loader, as a pure function of (corpus, epoch): re-running
    it (or retrying a failed stage) reproduces the identical order,
    and different epochs draw independent permutations.

    The permutation is content-keyed, never RNG-state-keyed: each
    row's order key is the portable 60-bit md5 of
    ``shuffle:epoch:doc_id`` (``dedup.md5_long`` — identical in DuckDB),
    its shard is ``order_key % 64``, and its position is the
    rank of the order key within the shard (ties broken by
    ``doc_id``, so the order is total and bit-stable).  Global read
    order = (shard, pos) — a loader streams shard 0..n-1.

    Scale: NO global sort.  One exchange on shard, then a
    per-partition window sort — each shard sorts independently, so
    skew is impossible by construction (md5 spreads uniformly) and
    the sort never exceeds corpus/64 rows per task.  At 100 TB the
    shard count would be ≈ corpus_bytes / target_file_size; write
    partitioned by shard, and the epoch is materialized without any
    driver-side state."""
    k = md5_long(
        F.concat_ws(
            ":",
            F.lit("shuffle"),
            F.lit(int(epoch)).cast("string"),
            F.col("doc_id").cast("string"),
        )
    )
    from pyspark.sql import Window

    keyed = docs.select(
        F.col("doc_id"),
        k.alias("order_key"),
        (k % F.lit(64)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return keyed.select(
        "doc_id",
        F.lit(int(epoch)).cast("int").alias("epoch"),
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def corpus_manifest(
    docs: DataFrame, n_groups: int | None = None
) -> DataFrame:
    """Per-shard release MANIFEST — the reproducibility artifact a
    training-data release ships next to its shards: for every
    ``shard_by_tokens`` output shard, the doc count, exact token
    total, id range, and an ORDER-INVARIANT content checksum (exact
    sum of per-doc 60-bit md5 ticks over ``doc_id:text``, accumulated
    in DECIMAL(38,0) so 10^12 docs cannot overflow; a NULL text hashes
    as the empty string in both engines).  Two re-runs of
    the pipeline produce byte-equal manifests iff they produced the
    same shards with the same content — the cheap release-equality
    check that avoids re-hashing terabytes pairwise.

    Scale shape: the shard assignment's own grouped window (one
    exchange), a doc_id equi-join back to the text (co-keyed, AQE
    handles skew), and ONE (shard_group, shard_idx) partial-aggregated
    exchange; checksum addition is commutative so map-side combine
    does most of the work."""
    sh = shard_by_tokens(docs, tokens_per_shard=4096, n_groups=n_groups)
    tick = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.coalesce("text", F.lit("")),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(20,0)")
    joined = docs.select("doc_id", tick.alias("tick")).join(sh, "doc_id")
    return joined.groupBy("shard_group", "shard_idx").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_tokens").alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("tick").cast("decimal(38,0)").alias("content_checksum"),
    )
