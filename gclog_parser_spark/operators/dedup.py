"""Deduplication operators for large-scale training-data pipelines.

All of these run over a ``documents(doc_id, text, ...)`` table and are
expressed with *native* Spark functions only (no Python UDFs): hashing
is md5 (bit-identical across engines, so the DuckDB oracle can verify
value-for-value), shingling is array-native, and every candidate
generation step is a hash-partitioned join/groupBy — the shapes that
scale to 10^12 documents:

* exact:      one shuffle on the 128-bit content hash;
* minhash:    signatures computed scan-side (no shuffle), candidate
              pairs via an equi-join on (band_idx, band_hash) — shuffle
              volume ∝ documents × bands, never ∝ pairs;
* simhash:    scan-side signature + bucket-join on the signature;
* n-gram Jaccard: verification join on exploded shingles, grouped —
              shuffle ∝ (doc, shingle) postings, like a search index
              build.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gclog_parser_spark.operators.graph import _fixpoint

#: number of minhash functions and LSH band layout
NUM_HASHES = 8
BANDS = 4  # rows per band = NUM_HASHES // BANDS = 2
SHINGLE_K = 3  # word shingle width


def md5_long(col):
    """Portable 60-bit integer hash: first 15 hex chars of md5.
    Identical in Spark (`conv`) and DuckDB (`CAST('0x'||... AS BIGINT)`)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _words(col):
    return F.split(F.trim(col), r"\s+")


def _shingle_expr(w, k: int = SHINGLE_K):
    """k-shingles from a *materialized* words-array column.

    Two rules learned from the plans (higher-order functions are
    interpreted, not codegen'd): never ``slice`` per element (O(words²)
    per doc), and never pass a computed array expression in — each
    ``element_at`` would re-evaluate it.  Callers project the words
    array first and pass the attribute."""
    n = F.greatest(F.size(w) - (k - 1), F.lit(0))
    return F.when(n > 0, F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + off) for off in range(k)]
        ),
    )).otherwise(F.array().cast("array<string>"))


def shingles(col):
    """One-expression convenience form (tests/small inputs); the
    operators below use the two-step materialized form."""
    return _shingle_expr(_words(col))


def _doc_shingles(docs: DataFrame, distinct: bool = False) -> DataFrame:
    """(doc_id, s) exploded shingles with the words array materialized
    in its own projection (evaluated once per row)."""
    sh = _shingle_expr(F.col("w"))
    if distinct:
        sh = F.array_distinct(sh)
    return docs.select(
        "doc_id", _words(F.col("text")).alias("w"), "*"
    ).select(
        "doc_id",
        *(c for c in docs.columns if c not in ("doc_id", "text")),
        F.explode(sh).alias("s"),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min doc_id."""
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) — sig[j] = min over shingles of
    md5_long(j || ':' || shingle).

    Relational shape, not nested array lambdas: explode the shingles,
    hash with plain codegen'd expressions (one column per hash fn), and
    take map-side-partial ``min``s.  The previous array-transform
    version re-evaluated the whole shingle construction once per hash
    function inside interpreted higher-order functions (~50× slower);
    this plan's shuffle carries one pre-aggregated row per document.
    Documents with no shingles (< k words) produce no signature, and
    therefore no candidate pairs — same contract as before.

    Hash family: each md5 of the shingle yields FOUR independent
    32-bit lanes (8 hex chars each), so ``NUM_HASHES`` functions cost
    ``ceil(NUM_HASHES/4)`` md5 evaluations per shingle instead of
    ``NUM_HASHES`` — md5 is the whole cost of signature generation at
    10^12 docs (measured ~2× on the sf0.1 bench for the default 8).
    Block b > 0 salts the digest with ``"b:"``; 32-bit min-values keep
    the estimator's agreement semantics (collision bias ∝ shingles/2³²,
    negligible), and DuckDB slices the identical digests."""
    import math

    sh = _doc_shingles(docs.select("doc_id", "text"))
    n_blocks = math.ceil(NUM_HASHES / 4)
    blocks = [
        F.md5(F.col("s"))
        if b == 0
        else F.md5(F.concat_ws(":", F.lit(str(b)), F.col("s")))
        for b in range(n_blocks)
    ]
    mins = [
        F.min(
            F.conv(
                F.substring(blocks[j // 4], (j % 4) * 8 + 1, 8), 16, 10
            ).cast("long")
        ).alias(f"h{j}")
        for j in range(NUM_HASHES)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id",
        F.array(*[F.col(f"h{j}") for j in range(NUM_HASHES)]).alias(
            "sig"
        ),
    )


def minhash_band_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs: docs sharing a full band of minhashes.

    One row per (doc_a < doc_b, band_idx).  The join key is
    (band_idx, band signature) so the shuffle carries doc×band rows —
    this is the piece that keeps near-dup at 10^12 docs tractable."""
    sigs = minhash_signatures(docs).where(
        F.element_at("sig", 1).isNotNull()  # docs with no shingles
    )
    return band_pairs_from_sigs(sigs)


def band_keys(sigs: DataFrame) -> DataFrame:
    """The banding projection ``(doc_id, band_idx, band_key)`` — the
    LSH index relation.  Split out of ``band_pairs_from_sigs`` so the
    incremental path can persist it as the corpus index table and
    probe it with a new batch's keys (the production shape: the index
    is append-only storage, never recomputed from corpus text)."""
    rows = NUM_HASHES // BANDS
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.concat_ws(
                    "_",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(rows)),
                        lambda r: F.element_at(
                            F.col("sig"), b * rows + r
                        ).cast("string"),
                    ),
                ),
            )
        ).alias("band_idx", "band_key"),
    )


def band_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """The banding + equi-join half of `minhash_band_pairs`, split out
    so callers that also need the signatures (the verify stage) compute
    them once."""
    banded = band_keys(sigs)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.band_idx").alias("band_idx"),
        )
    )


def simhash_docs(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — classic simhash over word hashes, computed as
    `bits` independent signed sums (native, no UDF)."""
    w = F.explode(_words(F.col("text"))).alias("word")
    h = md5_long(F.col("word"))
    flat = docs.select("doc_id", w).select(
        "doc_id", h.alias("h")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = flat.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, 2**b).otherwise(0)
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def minhash_verified_pairs(docs: DataFrame) -> DataFrame:
    """The verify stage between LSH candidate generation and
    clustering: each candidate pair gets the MinHash-estimated Jaccard
    (fraction of agreeing signature positions — the unbiased estimator)
    and pairs below 0.5 are discarded.  Banding alone admits
    pairs sharing one lucky band; thresholding the estimate is the
    standard precision repair, and it costs only two hash-joins of the
    tiny (doc_id, sig) relation against the candidate pairs — never a
    rescan of the text."""
    sigs = minhash_signatures(docs).where(
        F.element_at("sig", 1).isNotNull()
    )
    pairs = (
        band_pairs_from_sigs(sigs)
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    agree = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / NUM_HASHES, 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= 0.5)
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: connect each strictly-larger neighbor to
    min(Γ(u) ∪ {u}).  One groupBy + one join, both on hash(u)."""
    sym = _symmetrize(e)
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For every node u: connect all not-larger neighbors (and u itself)
    to min(Γ(u) ∪ {u})."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _edge_sig(e: DataFrame):
    # bit_xor is order-insensitive and cannot overflow (ANSI-safe)
    row = e.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node that appears in ``edges``;
    component id = min node id in the component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the shape that holds
    at 10^12 nodes: each round is two hash-partitioned groupBy+join
    passes, edge count never grows beyond the input, and the round count
    is O(log n) even on adversarial path graphs (plain min-label
    propagation is O(diameter), which a crawl chain can push to
    thousands).  Convergence is detected with an O(1)-size driver
    checksum (count + hash sum), and each round is ``localCheckpoint``-ed
    to truncate lineage — on a cluster this is ``checkpoint`` into the
    job's checkpoint dir (plans/ledger.py pattern).  The loop is
    ``graph._fixpoint``: ``max_rounds`` bounds the rounds that change
    the edge set, and one more round confirms.

    ``stats``: optional dict, receives ``rounds`` and ``round_secs``
    (each round's wall seconds) for metrics.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # off the star fixpoint the trailing min-aggregate below yields
    # WRONG labels; _fixpoint raises instead of returning them
    e, round_secs = _fixpoint(
        e, lambda e: _small_star(_large_star(e)), _edge_sig, None,
        max_rounds, "connected_components",
    )
    if stats is not None:
        stats["rounds"] = len(round_secs)
        stats["round_secs"] = round_secs
    # at the fixpoint every edge is (node, component_min)
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    return (
        comp.union(roots)
        .groupBy("node")
        .agg(F.min("comp").alias("component"))
    )


def dedup_clusters(docs: DataFrame, stats: dict | None = None) -> DataFrame:
    """Full near-dup pipeline stage 2: MinHash-LSH candidate pairs →
    connected components → (doc_id, cluster_id, is_keeper).

    The keeper (canonical document) is the cluster minimum — the row a
    100 TB training-data pipeline retains; ``WHERE is_keeper`` is the
    deduplicated corpus.  Docs outside every pair are their own
    singleton cluster (left join + coalesce, no shuffle beyond the CC
    rounds' own).  Every LSH band pair feeds the clustering, so one
    shared band is enough to merge two clusters."""
    pairs = minhash_band_pairs(docs).select("doc_a", "doc_b")
    comp = connected_components(pairs, stats=stats).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )


def dedup_survivors(docs: DataFrame) -> DataFrame:
    """Canonical-document selection per near-dup cluster: instead of
    ``dedup_clusters``' arbitrary min-id keeper, retain the HIGHEST
    QUALITY member (``quality_stats`` score, doc_id tie-break) — the
    policy a production corpus actually wants, since near-dup clusters
    mix a clean original with boilerplate-wrapped and truncated
    mirrors and min-id keeps a random one.

    Returns one row per cluster: ``(cluster_id, survivor_id,
    n_members, best_score)``; singletons survive as themselves.

    Scale shape: clustering is ``dedup_clusters`` (LSH pairs →
    alternating-star CC); the quality relation is a zero-shuffle
    codegen projection; selection is one cluster_id exchange shared
    by the rank and member-count windows (same partition key, one
    sort).  Reference has no dedup; north-rule near-dedup
    (BASELINE.json)."""
    from gclog_parser_spark.operators.textstats import quality_stats

    cl = dedup_clusters(docs).select("doc_id", "cluster_id")
    q = quality_stats(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    wc = Window.partitionBy("cluster_id")
    return (
        cl.join(q, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            "n_members",
            F.col("quality_score").alias("best_score"),
        )
    )


def _pair_overlaps(
    docs: DataFrame, bucket_col: str, max_df: int
) -> DataFrame:
    """Shared postings machinery for the exact pair-similarity ops:
    distinct shingle postings (df-capped — see ``jaccard_pairs`` for
    why the cap is what keeps the self-join tractable on web text) →
    in-bucket self-join → ``(doc_a, doc_b, inter, na, nb)``."""
    sh = _doc_shingles(
        docs.select(
            "doc_id", F.col(bucket_col).alias("bucket"), "text"
        ),
        distinct=True,
    ).withColumnRenamed("s", "shingle")
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    # equi-join on shingle: co-partitioned with the pair self-join below
    sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """n-gram Jaccard similarity >= 0.5 for candidate pairs within the
    same `source`.  Computed relationally: explode distinct
    shingles → self-join on shingle → |A∩B| by group; |A∪B| from per-doc
    counts.  Shuffle ∝ postings, never materializes the pair matrix.

    A postings cap of 256 keeps the self-join tractable on web text:
    a stop-shingle ("the quick brown" class) with document frequency d
    contributes O(d²) join rows, so shingles with ``df > 256`` are
    dropped from the similarity space entirely (postings AND union
    sizes — the standard stop-postings rule, like an IDF floor).  Per
    kept shingle the join fan-out is bounded by 256², independent of
    corpus size; hot shingles carry no similarity signal anyway."""
    inter = _pair_overlaps(docs, "source", 256)
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


#: the Jaccard threshold num/den of ``prefix_jaccard_pairs``
PREFIX_THRESHOLD = (1, 2)


def prefix_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """All-pairs Jaccard ≥ num/den (``PREFIX_THRESHOLD``) via
    PPJoin-style **prefix filtering** (Chaudhuri/Ganti/Kaushik 2006;
    Xiao et al. 2008) — the provably-COMPLETE candidate reducer,
    unlike ``jaccard_pairs``'s df-cap heuristic which silently drops
    pairs whose overlap lives in hot shingles.

    Order every document's distinct shingles by the one global
    canonical order (ascending corpus df, shingle as tie-break) and
    emit only the first ``n - ceil(θ·n) + 1`` as join keys: if
    J(A,B) ≥ θ then |A∩B| ≥ ceil(θ·max(|A|,|B|)), so dropping either
    prefix leaves a suffix too small to hold the required overlap —
    the earliest common shingle in the global order is inside BOTH
    prefixes, and the candidate equi-join cannot miss a true pair.
    Candidates are further cut by the length filter (J ≥ θ ⟹
    den·min(na,nb) ≥ num·max(na,nb)), then verified exactly.

    The threshold is a rational num/den so the keep test is pure
    integer arithmetic (``den·inter ≥ num·union``) — no float
    comparison can disagree between engines; the reported ``jaccard``
    is one IEEE division rounded to 6 dp.

    Scale shape: df is one shingle exchange over distinct postings;
    the prefix rank is a per-doc window (exchange on doc_id, state ∝
    one doc's shingles); the candidate self-join keys only on PREFIX
    shingles — by construction the globally RAREST shingles of each
    doc — so per-key fan-out is self-limiting without any df cap
    (a shingle common enough to explode the join is common enough to
    rank past every prefix).  Verification joins full postings for
    candidate docs only: shuffle ∝ candidate postings, never the pair
    matrix.  Reference has no similarity ops; north-rule dedup
    (BASELINE.json)."""
    num, den = PREFIX_THRESHOLD
    sh = _doc_shingles(
        docs.select("doc_id", "text"), distinct=True
    ).withColumnRenamed("s", "shingle")
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = (
        F.col("n")
        - F.floor((num * F.col("n") + (den - 1)) / den).cast("long")
        + 1
    )
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("pos") <= prefix_len)
        .select("doc_id", "shingle", "n")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("na")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("nb")
    )
    cands = (
        a.join(b, "shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: J ≥ num/den needs den·min ≥ num·max
            & (
                den * F.least("na", "nb")
                >= num * F.greatest("na", "nb")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    tb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(ta, "doc_a")
        .join(tb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(den * F.col("inter") >= num * union)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / union, 6).alias("jaccard"),
        )
    )


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the third
    pair generator next to MinHash-Jaccard (set overlap) and
    Levenshtein-fuzzy (edit distance): Hamming over the simhash catches
    bag-of-words drift in O(1) per comparison.

    Pigeonhole banding makes it scale: split the 32-bit simhash
    into 4 equal segments — two hashes within Hamming distance 3
    (< 4) must agree EXACTLY on at least one
    segment, so candidates come from 4 equi-joins on
    (band_idx, segment value) instead of the O(n²) all-pairs scan (the
    plan the oracle deliberately runs).  Shuffle ∝ docs×bands; hot
    segments are bounded by segment cardinality 2^8.
    Candidates then verify with a popcount on the XOR — exact, no
    recall loss.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ 3."""
    return _hamming_pairs(
        simhash_docs(docs, bits=32), "doc_id", "simhash", 32,
        3, 4, ("doc_a", "doc_b"),
    )


def _hamming_pairs(
    sigs: DataFrame,
    key: str,
    hash_col: str,
    width: int,
    max_hamming: int,
    bands: int,
    out: tuple[str, str],
) -> DataFrame:
    """Pigeonhole Hamming self-join of ``width``-bit hashes: explode each
    hash into ``bands`` equal segments, equi-join on (band_idx,
    band_val), and verify the candidates with a popcount on the XOR.
    Two hashes within ``max_hamming`` (< bands) agree exactly on at
    least one segment, so no pair is lost.  Returns (``out[0]``,
    ``out[1]``, hamming), one row per pair of ``key``s, a < b."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < bands, got"
            f" {max_hamming} >= {bands}"
        )
    if width % bands:
        raise ValueError(f"bands must divide the {width}-bit hash")
    seg = width // bands
    banded = sigs.select(
        key,
        hash_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright(hash_col, b * seg)
                    .bitwiseAND((1 << seg) - 1)
                    .alias("band_val"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select(key, hash_col, "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(
            F.col(f"a.{key}").alias(out[0]),
            F.col(f"b.{key}").alias(out[1]),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_dedup(docs: DataFrame, k: int = 5) -> DataFrame:
    """Exact-substring dedup (the ExactSubstr pass of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL 2022): every word ``k``-gram that occurs more than once in the
    ENTIRE corpus (cross-doc or within-doc) marks the tokens it covers;
    covered tokens are removed and the survivors are re-joined with
    single spaces.  Returns ``(doc_id, clean_text, n_tokens,
    n_removed)`` for every document.

    The paper builds a corpus-wide suffix array — a data structure with
    no distributed equivalent.  The relational re-expression: k-gram
    *postings* (start position + md5 of the space-joined gram), a
    global occurrence count per gram (duplicated := count > 1), a
    semi-join back to the start positions, and a per-doc sliding
    ``max`` window (ROWS k-1 PRECEDING .. CURRENT) that turns "a
    duplicated gram starts at s" into "token t ∈ [s, s+k-1] is
    covered" — positions are dense per doc so the ROWS frame IS the
    position range.

    Scale shape: every relation is ∝ corpus tokens.  One exchange for
    the gram count (partial map-side — hot grams collapse before the
    wire), one equi-join start↔duplicated-gram on the fixed-width md5
    key, then one doc-keyed exchange shared by the coverage window and
    the ordered reassembly.  No suffix array, no driver state, no
    Python in the row path.
    """
    base = docs.select("doc_id", _words(F.col("text")).alias("w"))
    tok = base.select(
        "doc_id", F.posexplode("w").alias("pos", "word")
    )
    starts = base.select(
        "doc_id", F.posexplode(_shingle_expr(F.col("w"), k)).alias("spos", "s")
    ).select("doc_id", "spos", F.md5("s").alias("sh"))
    dup = (
        starts.groupBy("sh")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("sh")
    )
    flagged = starts.join(dup, "sh").select(
        "doc_id", F.col("spos").alias("pos"), F.lit(1).alias("st")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(k - 1), 0)
    )
    cov = (
        tok.join(flagged, ["doc_id", "pos"], "left")
        .withColumn("st", F.coalesce("st", F.lit(0)))
        .withColumn("covered", F.max("st").over(win))
    )
    kept = F.when(F.col("covered") == 0, F.struct("pos", "word"))
    return cov.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda x: x["word"]
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_tokens"),
        F.sum("covered").alias("n_removed"),
    )


def containment_pairs(docs: DataFrame) -> DataFrame:
    """ASYMMETRIC near-dup detection within the same `source`: containment
    ``C(A,B) = |A∩B| / min(|A|,|B|)`` over distinct shingle sets —
    the rule that catches a document EMBEDDED in another (quoted
    articles, boilerplate-wrapped mirrors, truncated re-crawls), which
    symmetric Jaccard misses: a page wrapped in a 5× larger template
    has J ≈ 0.17 but C = 1.0.  Returns
    ``(doc_a, doc_b, inter, na, nb, containment, jaccard)`` for pairs
    with containment ≥ 0.8 — jaccard rides along so callers
    can separate true near-dups (both high) from subset-dups (C high,
    J low).

    Same relational postings plan (and the same df-cap tractability
    argument) as :func:`jaccard_pairs` — one shingle self-join bounded
    by 256² fan-out per shingle, never a pair matrix.
    """
    inter = _pair_overlaps(docs, "source", 256)
    return (
        inter.withColumn(
            "containment",
            F.round(F.col("inter") / F.least("na", "nb"), 6),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("containment") >= 0.8)
        .select(
            "doc_a", "doc_b", "inter", "na", "nb",
            "containment", "jaccard",
        )
    )


def incremental_dedup(corpus: DataFrame, batch: DataFrame) -> DataFrame:
    """Dedup a NEW crawl batch against an already-deduplicated corpus —
    the shape production pipelines actually run (nobody re-clusters
    10^12 documents per crawl; each batch probes the stored index and
    only new-vs-old + new-vs-new comparisons happen).

    Three stages, one verdict row per batch doc
    ``(doc_id, dup_exact, dup_of_corpus, dup_in_batch, keep)``:

    * exact — content-hash LEFT SEMI against the corpus hash set
      (in production a stored ``(text_hash)`` table; shuffle ∝ batch
      after the broadcast/semi optimization, never corpus text);
    * near, new-vs-old — the batch's LSH band keys probe the corpus
      band index (``band_keys`` — persisted, append-only); equi-join
      on (band_idx, band_key), shuffle ∝ batch×bands + matching index
      postings;
    * near, new-vs-new — band self-join WITHIN the batch only; the
      later doc (higher doc_id) is the duplicate — the standard online
      policy (greedy: keep the earliest member of each within-batch
      near-dup group; chains collapse to their earliest doc).

    ``keep`` = none of the three fired.  Signature/banding functions
    are the exact ones the full-corpus path uses, so verdicts agree
    with what full re-clustering would call a duplicate pair."""
    bh = batch.select("doc_id", F.md5("text").alias("h"))
    ch = corpus.select(F.md5("text").alias("h"))
    exact = (
        bh.join(ch, "h", "left_semi").select("doc_id").distinct()
        .withColumn("dup_exact", F.lit(True))
    )

    sigs_c = minhash_signatures(corpus).where(
        F.element_at("sig", 1).isNotNull()
    )
    sigs_b = minhash_signatures(batch).where(
        F.element_at("sig", 1).isNotNull()
    )
    idx_c = band_keys(sigs_c)
    keys_b = band_keys(sigs_b)
    vs_old = (
        keys_b.join(idx_c, ["band_idx", "band_key"], "left_semi")
        .select("doc_id").distinct()
        .withColumn("dup_of_corpus", F.lit(True))
    )
    vs_new = (
        band_pairs_from_sigs(sigs_b)
        .select(F.col("doc_b").alias("doc_id")).distinct()
        .withColumn("dup_in_batch", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(vs_old, "doc_id", "left")
        .join(vs_new, "doc_id", "left")
        .na.fill(
            {"dup_exact": False, "dup_of_corpus": False,
             "dup_in_batch": False}
        )
        .withColumn(
            "keep",
            ~(
                F.col("dup_exact")
                | F.col("dup_of_corpus")
                | F.col("dup_in_batch")
            ),
        )
    )


def lsh_recall(docs: DataFrame) -> DataFrame:
    """Candidate-recall audit for the MinHash-LSH banding index:
    measure what fraction of TRUE near-dup pairs (exact Jaccard ≥
    1/2, from the provably-complete ``prefix_jaccard_pairs``
    ground truth) the banding actually surfaces as candidates.

    One row: ``(n_truth, n_candidates, n_hits, recall, efficiency)``
    where recall = hits/truth (the banding's miss rate made visible)
    and efficiency = hits/candidates (how much of the candidate
    volume is real signal vs band collisions to be verified away).

    This is the dial an operator turns BEFORE a 10^12-doc dedup run:
    banding parameters (hashes × bands) trade recall against candidate
    volume, and this audit makes the trade measurable on a sample —
    at full scale the exact ground truth is unaffordable, so you run
    it on a hash-sampled slice and extrapolate.  Scale shape: the
    truth side is PPJoin (self-limiting prefix join), the candidate
    side the band equi-join, the comparison two aggregates over
    pair-id relations — no driver loop, no collect.

    Reference has no similarity ops; north-rule dedup quality gate
    (BASELINE.json)."""
    truth = prefix_jaccard_pairs(docs).select("doc_a", "doc_b")
    cand = (
        minhash_band_pairs(docs)
        .select("doc_a", "doc_b")
        .distinct()
    )
    hits = truth.join(cand.withColumn("is_cand", F.lit(1)),
                      ["doc_a", "doc_b"], "left")
    stats = hits.agg(
        F.count("*").alias("n_truth"),
        F.coalesce(F.sum("is_cand"), F.lit(0))
        .cast("long")
        .alias("n_hits"),
    )
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    return stats.crossJoin(n_cand).select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.round(
            F.col("n_hits") / F.greatest(F.col("n_truth"), F.lit(1)), 6
        ).alias("recall"),
        F.round(
            F.col("n_hits") / F.greatest(F.col("n_candidates"), F.lit(1)),
            6,
        ).alias("efficiency"),
    )


def cross_source_pairs(docs: DataFrame) -> DataFrame:
    """Cross-source near-duplicate leakage matrix — the provenance
    audit a corpus review runs before mixing sources: for every
    (source_a <= source_b) pair, how many MinHash near-dup candidate
    pairs straddle it, and how many distinct documents are implicated.
    Diagonal entries are within-source duplication (template reuse);
    off-diagonal entries are CROSS-source leakage — the same content
    arriving through two pipelines, the classic double-count /
    license-laundering smell that per-source dedup never sees.

    The pair key is canonicalized with ``least/greatest`` (binary
    string order), so the matrix is a pure function of the corpus.
    Exact BIGINT counts; the distinct-doc count is over the union of
    both endpoints.

    Plan: the candidate pairs come from the banded LSH join
    (:func:`minhash_band_pairs` — shuffle ∝ doc×band, the thing that
    keeps this tractable at 10^12 docs); each endpoint then picks up
    its source via a join on doc_id and the matrix is one
    partial-agged exchange on the tiny (source_a, source_b) key.  The
    doc_id→source side is column-pruned to two columns; at corpus
    scale it broadcast-joins per AQE if small or shuffles on doc_id
    (the pair relation is already ∝ candidate pairs, far below docs).
    """
    pairs = minhash_band_pairs(docs).select("doc_a", "doc_b").distinct()
    src = docs.select("doc_id", "source")
    ab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    docs_involved = (
        ab.select("source_a", "source_b", F.col("doc_a").alias("d"))
        .union(
            ab.select("source_a", "source_b", F.col("doc_b").alias("d"))
        )
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("d").cast("long").alias("n_docs"))
    )
    return (
        ab.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .join(docs_involved, ["source_a", "source_b"])
        .withColumn("cross_source", F.col("source_a") != F.col("source_b"))
    )
