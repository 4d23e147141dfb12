"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything is native `pyspark.sql.functions` (whole-stage codegen, no
Python in the hot path) and deliberately portable to the DuckDB oracle:
regex counting + md5-derived hashing only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gclog_parser_spark.operators.dedup import _shingle_expr, _words

#: marker words per language for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "de", "y"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

#: BPE-ish tokenizer: letter runs, digit runs, single punctuation
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _count_re(col, pattern):
    return F.regexp_count(col, F.lit(pattern))


def _marker_count(col, words):
    pat = r"\b(" + "|".join(words) + r")\b"
    return _count_re(F.lower(col), pat)


def quality_stats(docs: DataFrame) -> DataFrame:
    """Per-document quality features + a composite score.

    n_tokens, mean token length, punctuation ratio, stopword ratio —
    the standard cheap web-text quality signals.
    """
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = _count_re(text, TOKEN_RE)
    n_words = _count_re(text, r"[A-Za-z]+")
    n_punct = _count_re(text, r"[^A-Za-z0-9\s]")
    n_stop = _marker_count(text, STOPWORDS)
    mean_wlen = F.round(
        _count_re(text, r"[A-Za-z]") / F.greatest(n_words, F.lit(1)), 6
    )
    stop_ratio = F.round(n_stop / F.greatest(n_words, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(n_tokens, F.lit(1)), 6)
    score = F.round(
        stop_ratio * 0.5
        + F.least(mean_wlen / 8, F.lit(1.0)) * 0.3
        + (1 - punct_ratio) * 0.2,
        6,
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of per-language marker-word counts
    (deterministic tie-break by language code; 'und' when no marker
    hits)."""
    text = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            _marker_count(text, ws).alias(f"s_{lang}")
            for lang, ws in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier lang wins ties
        pred = F.when(
            (F.col(f"s_{lg}") == best) & (best > 0), F.lit(lg)
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Token totals per source (the 'how many tokens is this corpus'
    question every training pipeline asks)."""
    return (
        docs.select("source", _count_re(F.col("text"), TOKEN_RE).alias("t"))
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("t").alias("tokens"),
            F.max("t").alias("max_doc_tokens"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Repetition signals (the Gopher rules the shape-based
    quality_stats can't see): duplicate-line fraction and the share of
    the document covered by its most frequent word bigram.

    The line part is purely scan-side (array ops per row, no shuffle).
    The bigram mode needs a frequency count, done relationally —
    explode → count per (doc, bigram) → max per doc — because a
    per-row HOF frequency scan would be O(words²) interpreted; the
    shuffle carries one row per distinct (doc, bigram), i.e. ∝ corpus
    tokens, the same postings shape as the search-index build."""
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    base = docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        F.round(
            (n_lines - n_distinct) / F.greatest(n_lines, F.lit(1)), 6
        ).alias("dup_line_ratio"),
        _words(F.col("text")).alias("w"),
    )
    bigrams = base.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.explode(_shingle_expr(F.col("w"), k=2)).alias("bg"),
    )
    top = (
        bigrams.groupBy("doc_id", "n_words", "bg")
        .count()
        .groupBy("doc_id", "n_words")
        .agg(F.max("count").alias("top_bigram_count"))
        .select(
            "doc_id",
            # fraction of the doc's bigrams taken by the modal one
            F.round(
                F.col("top_bigram_count")
                / F.greatest(F.col("n_words") - 1, F.lit(1)),
                6,
            ).alias("top_bigram_ratio"),
        )
    )
    return (
        base.select("doc_id", "n_lines", "dup_line_ratio")
        .join(top, "doc_id", "left")
        .withColumn(
            "top_bigram_ratio",
            F.coalesce("top_bigram_ratio", F.lit(0.0)),
        )
    )


def strip_boilerplate(docs: DataFrame) -> DataFrame:
    """Remove boilerplate lines — lines whose exact text appears in more
    than 10 documents (nav bars, cookie banners, footers) — and
    return (doc_id, n_lines, n_removed, cleaned_hash).

    Relational shape: explode lines with position → line document
    frequency (two-phase hash agg over the line text — the postings
    count) → anti-join the hot lines → re-assemble in line order with
    the same array_sort(collect_list(struct(pos, line))) pattern the
    window parse uses.  Shuffle ∝ total lines (index-build shape); the
    hot-line set itself is tiny and broadcast by AQE.  The digest is
    the oracle-checked value; production would carry the cleaned text
    column forward instead."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("pos", "line"),
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") > 10)
        .select("line", F.lit(True).alias("is_hot"))
    )
    marked = lines.join(hot, "line", "left")
    cleaned = (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.when(F.col("is_hot"), 1).otherwise(0)
            ).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_hot").isNull(),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("cleaned"),
        )
    )
    return cleaned.select(
        "doc_id",
        "n_lines",
        F.col("n_removed").cast("long").alias("n_removed"),
        F.md5("cleaned").alias("cleaned_hash"),
    )


#: PII scrub patterns, applied in order (url first so email-shaped
#: fragments inside urls are already gone — both the replacement chain
#: AND the hit counts run on the progressively-scrubbed text, so
#: n_email/n_phone equal the number of <EMAIL>/<PHONE> insertions)
PII_PATTERNS = [
    ("url", r"https?://\S+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact emails / urls / phone-shaped spans, reporting per-doc hit
    counts and the digest of the scrubbed text (the digest is what the
    oracle value-checks — the full scrubbed column flows on to the
    next pipeline stage in production).  Chained native
    ``regexp_replace``/``regexp_count``: codegen, zero shuffle."""
    scrubbed = F.col("text")
    counts = []
    for name, pat, repl in PII_PATTERNS:
        # count against the text as scrubbed SO FAR: an email inside an
        # already-replaced <URL> is not double-counted
        counts.append(_count_re(scrubbed, pat).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select(
        "doc_id",
        *counts,
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


#: corpus_filter thresholds (Gopher-style repetition/shape rules adapted
#: to the cheap signals quality_stats computes)
FILTER_DEFAULTS = {
    "min_chars": 200,
    "max_chars": 20000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 10.0,
    "min_stopword_ratio": 0.05,
    "max_punct_ratio": 0.3,
}


def corpus_filter(docs: DataFrame, **overrides) -> DataFrame:
    """Quality-filter verdict per document: ``keep`` + the first failing
    rule as ``reject_reason`` (NULL when kept) — the standard web-text
    gating stage between raw crawl and training corpus.

    Pure projection over quality_stats (itself codegen regexp counts):
    no shuffle, no Python; at 100 TB this runs at scan speed and the
    downstream ``WHERE keep`` predicate pushes into the corpus scan.
    Rule order (first failure reported) is part of the contract."""
    p = {**FILTER_DEFAULTS, **overrides}
    q = quality_stats(docs)
    reason = (
        F.when(F.col("n_chars") < p["min_chars"], "too_short")
        .when(F.col("n_chars") > p["max_chars"], "too_long")
        .when(
            F.col("mean_word_len") < p["min_mean_word_len"],
            "word_len_low",
        )
        .when(
            F.col("mean_word_len") > p["max_mean_word_len"],
            "word_len_high",
        )
        .when(
            F.col("stopword_ratio") < p["min_stopword_ratio"],
            "low_stopwords",
        )
        .when(
            F.col("punct_ratio") > p["max_punct_ratio"], "high_punct"
        )
    )
    return q.select(
        "doc_id",
        reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Bottom-4 sketch fingerprint: the 4 smallest md5-60bit hashes of
    the document's word 3-shingles, joined into a stable string.  Equal
    fingerprints ⇒ near-identical shingle sets (winnowing-style)."""
    # words materialized in their own projection so the shingle lambda
    # reads an attribute, not a recomputed split (see dedup._shingle_expr)
    sh = F.array_distinct(_shingle_expr(F.col("w")))
    hashes = F.array_sort(
        F.transform(
            sh,
            lambda s: F.conv(
                F.substring(F.md5(s), 1, 15), 16, 10
            ).cast("long"),
        )
    )
    fp = F.concat_ws("_", F.transform(
        F.slice(hashes, 1, 4), lambda h: h.cast("string")
    ))
    return docs.select(
        "doc_id", _words(F.col("text")).alias("w")
    ).select("doc_id", fp.alias("fingerprint"))


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    min_hits: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, count the
    distinct word ``k``-grams it shares with ANY benchmark document
    (the GPT-3/PaLM eval-overlap check).  Returns
    ``(doc_id, n_hits, flagged)`` for documents with ≥1 hit;
    ``flagged`` marks docs at or above ``min_hits``.

    Scale shape: eval sets are tiny next to a 10^12-doc corpus, so the
    benchmark's distinct shingle set is collected into a broadcast hash
    relation — the corpus side streams scan→explode→broadcast-join with
    NO shuffle of corpus data until the final per-doc count (one
    exchange on doc_id).  Shingling uses the materialized-words form
    (see ``dedup._shingle_expr``: HOFs are interpreted, so the words
    array is projected once, never recomputed per element).
    """
    def _sh(df: DataFrame) -> DataFrame:
        sh = F.array_distinct(_shingle_expr(F.col("w"), k))
        return df.select(
            "doc_id", _words(F.col("text")).alias("w")
        ).select("doc_id", F.explode(sh).alias("shingle"))

    bench = _sh(benchmark).select("shingle").distinct()
    return (
        _sh(corpus)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .withColumn("flagged", F.col("n_hits") >= F.lit(min_hits))
    )


def ngram_decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    min_hits: int = 3,
) -> DataFrame:
    """:func:`ngram_decontaminate` for benchmark sets too large to
    broadcast as an exact hash relation (a full eval-suite union at
    production scale is tens of GB of distinct shingles): the corpus
    shingle stream is prefiltered by a Bloom sketch of the benchmark
    shingles (``bloomjoin.bloom_build``/``bloom_test`` — bitmap is an
    8 KiB-default literal, never a broadcast table), then the
    survivors take an explicit shuffle-hash equi-join against the
    exact benchmark set to strip the Bloom false positives.  Results
    are IDENTICAL to the broadcast variant (no false negatives by
    construction, FPs removed by the join) — same oracle.

    Scale shape: the Bloom predicate is pure codegen (xxhash64 →
    shift/AND) applied scan-side BEFORE the only corpus shuffle, so
    exchange volume drops from all corpus shingles to ~(true hits +
    FP rate · shingles); the benchmark side shuffles once on shingle.
    The join is hinted shuffle-hash — with the bench side no longer
    broadcastable there is no reason to pay a sort."""
    from gclog_parser_spark.operators import bloomjoin

    def _sh(df: DataFrame) -> DataFrame:
        sh = F.array_distinct(_shingle_expr(F.col("w"), k))
        return df.select(
            "doc_id", _words(F.col("text")).alias("w")
        ).select("doc_id", F.explode(sh).alias("shingle"))

    bench = _sh(benchmark).select("shingle").distinct()
    m_bits, n_hashes = bloomjoin.M_BITS, bloomjoin.N_HASHES
    words = bloomjoin.bloom_build(bench, "shingle", m_bits, n_hashes)
    bm, pred = bloomjoin.bloom_test("shingle", words, m_bits, n_hashes)
    survivors = (
        _sh(corpus)
        .withColumn("__bloom_bm", bm)
        .where(pred)
        .drop("__bloom_bm")
    )
    return (
        survivors.join(bench.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .withColumn("flagged", F.col("n_hits") >= F.lit(min_hits))
    )


def tfidf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf, with the
    rational idf variant ``(N + 1) / (df + 1)`` instead of its log —
    a transcendental produces 1-ulp cross-engine drift that can flip
    near-tie rankings, while integer-ratio arithmetic is bit-identical
    in Spark and the SQL oracle.  Ties break (score DESC, word ASC).

    Scale shape: term frequencies are one (doc_id, word) exchange of
    already-exploded words; document frequencies aggregate THAT
    (pre-collapsed) relation; the vocab-sized df relation is broadcast
    back onto tf; the final per-doc top-k is a row_number window on
    doc_id.  N is one count()
    job — O(1) driver state.
    """
    from pyspark.sql import Window

    words = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = F.broadcast(tf.groupBy("word").agg(F.count("*").alias("df")))
    n_docs = docs.count()
    score = F.round(
        F.col("tf") * F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("word")
    )
    return (
        tf.join(dfreq, "word")
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "rnk", "word", "score")
    )


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split each document into fixed-width word chunks with overlap
    (the RAG / pretraining context-window chunker): chunk ``i`` covers
    words ``[i*stride+1, i*stride+chunk_words]`` with
    ``chunk_words = 32``, ``overlap = 8`` and
    ``stride = chunk_words - overlap``; the final chunk is clipped at
    the document end; every doc yields ≥1 chunk.

    Pure scan-side generator projection (materialized words array →
    integer-exact chunk count via DIV → ``posexplode`` of sliced
    joins) — zero shuffles, so it chunks a 10^12-doc corpus at scan
    speed.  Output: (doc_id, chunk_idx, chunk_text, n_chunk_words).
    """
    chunk_words, overlap = 32, 8
    stride = chunk_words - overlap
    # integer-exact ceil((max(n-overlap,1)) / stride) via DIV
    n_chunks = F.expr(
        f"CAST((greatest(size(w) - {overlap}, 1) + {stride - 1})"
        f" DIV {stride} AS INT)"
    )
    chunks = F.transform(
        F.sequence(F.lit(0), F.col("n_chunks") - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("w"), i * stride + 1, chunk_words)
        ),
    )
    return (
        docs.select("doc_id", _words(F.col("text")).alias("w"))
        .select("doc_id", "w", n_chunks.alias("n_chunks"))
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "chunk_text",
            F.size(F.split("chunk_text", r"\s+")).alias("n_chunk_words"),
        )
    )


def corpus_ngrams(docs: DataFrame, k: int = 2, top: int = 50) -> DataFrame:
    """Corpus-level n-gram vocabulary statistics: global count and
    document frequency of every word k-gram, returning the ``top``
    most frequent (the LM-vocab / contamination-blocklist builder).

    Scale shape: shingles explode scan-side (same `_shingle_expr` as
    MinHash — no O(words²) HOFs), the count is one partial-aggregated
    exchange per distinct n-gram, the exact doc frequency is a second
    (ngram, doc_id)-distinct exchange, and the global top-k is a
    distributed TakeOrdered over the aggregated relation (∝ distinct
    n-grams, never the corpus).  Ordering is total — (n DESC, ngram
    ASC) with ngram unique — so the cut is deterministic cross-engine.
    """
    ng = docs.select(
        "doc_id", _words(F.col("text")).alias("w")
    ).select("doc_id", F.explode(_shingle_expr(F.col("w"), k=k)).alias("ngram"))
    return (
        ng.groupBy("ngram")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(top)
    )


def fuzzy_pairs(docs: DataFrame) -> DataFrame:
    """Edit-distance near-duplicate pairs (distance <= 24): block on
    the lowercased 16-char prefix, then Levenshtein over the 96-char
    head within each block — the fuzzy-dedup
    complement to MinHash (`dedup.minhash_pairs` catches shuffled
    content; this catches small in-place edits with high precision).

    Scale discipline (same as `jaccard_pairs`' df cap and
    `similarity.neardup_pairs`' LSH blocking): the self-join runs only
    inside prefix blocks, and blocks larger than ``max_block`` (50 docs) are
    dropped BEFORE the join — a boilerplate prefix shared by millions of
    docs can otherwise explode quadratically.  Fan-out is therefore ≤
    ``max_block``² per block; `levenshtein` is JVM codegen on the truncated
    heads (O(96²) per candidate, never full texts). Dropped-block keys are
    observable via the block-size relation, not silently hidden (the cap is
    a documented recall trade, matching the reference-free corpus ops'
    conventions).  Pairs whose lengths differ by more than ``max_len_diff``
    (64 chars) are not compared.
    """
    max_len_diff, max_block = 64, 50
    d = docs.select(
        F.col("doc_id"),
        F.lower(F.substring("text", 1, 16)).alias("pfx"),
        F.substring("text", 1, 96).alias("head"),
        F.length("text").alias("len"),
    )
    sizes = d.groupBy("pfx").agg(F.count("*").alias("n"))
    dd = d.join(sizes.filter(F.col("n") <= max_block), "pfx")
    a = dd.alias("a")
    b = dd.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(b, "pfx")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.abs(F.col("a.len") - F.col("b.len")) <= max_len_diff
        )
        .filter(dist <= 24)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
    )


def postings(docs: DataFrame) -> DataFrame:
    """Inverted-index postings: one row per (word, doc) with term
    frequency and first position — the build side of search/BM25 over
    the corpus (and the honest relational representation: the
    "index" is a table you shuffle once on word, not a driver-side
    dict).

    Scale: posexplode is scan-side; ONE partial-aggregated exchange on
    (word, doc_id).  At 10^12 docs the posting table is the classic
    sharded inverted index — range-partition it on word for serving.
    """
    w = docs.select(
        "doc_id",
        F.posexplode(_words(F.col("text"))).alias("pos", "word"),
    )
    return w.groupBy("word", "doc_id").agg(
        F.count("*").alias("tf"),
        F.min("pos").alias("first_pos"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k docs per query term, cross-engine exact: the idf is
    the RATIONAL Robertson form ``(N - df + 0.5)/(df + 0.5)`` with no
    logarithm (the same trick as `tfidf_topk` — transcendental-free
    scores are bit-comparable between Spark and DuckDB), saturation
    uses k1=1.2 b=0.75 as integer percents, scores round to 6 dp and
    rank deterministically by (rounded score DESC, doc_id ASC).

    Scale: tf from the postings relation (one exchange), doc lengths
    scan-side, N / total-length / per-term df are tiny aggregates
    broadcast back; top-k per term is a bounded window over ≤N rows
    per term.
    """
    k1 = 1.2
    b = 0.75
    w = docs.select(
        "doc_id", F.posexplode(_words(F.col("text"))).alias("pos", "word")
    ).filter(F.col("word").isin(terms))
    tf = w.groupBy("word", "doc_id").agg(F.count("*").alias("tf"))
    dl = docs.select(
        "doc_id", F.size(_words(F.col("text"))).alias("dl")
    )
    # one action for both scalars (count + total length)
    consts = dl.agg(
        F.count("*").alias("n"), F.sum("dl").alias("ls")
    ).first()
    n_docs, l_sum = consts["n"], consts["ls"]
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(dl, "doc_id")
        .select(
            "word",
            "doc_id",
            F.round(
                ((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (
                        (1.0 - b)
                        + b * F.col("dl") * F.lit(float(n_docs)) / F.lit(float(l_sum))
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("word").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
    )
    return scored.withColumn("rn", rn).filter(F.col("rn") <= k).drop("rn")


def line_dedup(docs: DataFrame, return_text: bool = False) -> DataFrame:
    """Corpus-wide exact line deduplication (the C4 preprocessing rule):
    every distinct line survives only at its FIRST occurrence in
    (doc_id, pos) order; all later copies — across documents or within
    one — are dropped.  Returns per-doc
    ``(doc_id, n_lines, n_kept, n_dropped, kept_hash)`` where
    ``kept_hash`` digests the surviving lines re-joined in order;
    ``return_text=True`` adds the re-joined ``kept_text`` column itself
    (the pipeline-stage form).

    Differs from :func:`strip_boilerplate` (which drops lines whose
    document frequency exceeds a threshold *everywhere*): here one copy
    always survives, so unique content is never lost.

    Relational shape, sized for a 10^12-line corpus: explode lines →
    per-line lexicographic ``min(struct(doc_id, pos))`` — a partial
    (map-side-combined) aggregate, so a line duplicated 10^9 times
    collapses to one row per map task instead of sorting a single hot
    window partition (the row_number-over-line plan the oracle uses
    would skew) → equi-join the keeper back on the line text (AQE
    reuses the agg's hash partitioning) → per-doc ordered reassembly.
    Two line-keyed exchanges + one doc_id exchange, all combiner-
    friendly."""
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("pos", "line"),
    )
    firsts = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    marked = lines.join(firsts, "line").withColumn(
        "is_kept",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("pos") == F.col("first.pos")),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("is_kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_kept"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("kept_text"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            (F.col("n_lines") - F.col("n_kept"))
            .cast("long")
            .alias("n_dropped"),
            F.md5("kept_text").alias("kept_hash"),
            *(["kept_text"] if return_text else []),
        )
    )


#: C0 controls (minus \t \n) + DEL — stripped by normalize_text
CONTROL_RE = "[\\x00-\\x08\\x0B-\\x1F\\x7F]"
#: horizontal-whitespace run: space, tab, CR, NBSP, zero-width space
SPACE_RE = "[ \t\r ​]+"


def normalize_text_col(col="text"):
    """The normalized-text Column expression (NFC → control strip →
    whitespace collapse → trim); see :func:`normalize_text`.  Pipeline
    stages apply it directly (``withColumn("text", ...)``) to carry the
    cleaned text forward."""
    import pandas as pd  # noqa: F401 — signature needs pandas at runtime

    @F.pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize("NFC", x)
        )

    return F.trim(
        F.regexp_replace(
            F.regexp_replace(_nfc(F.col(col)), CONTROL_RE, ""),
            SPACE_RE,
            " ",
        )
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Unicode + whitespace normalization — the first pass of every
    web-text pipeline: NFC composition (``e`` + U+0301 → ``é``), C0/DEL
    control-char strip, and collapse of horizontal-whitespace runs
    (including NBSP and zero-width space) to a single space, trimmed.

    NFC is the one step Spark has no built-in for, so it runs as an
    Arrow-batched pandas UDF (``unicodedata.normalize`` over each
    batch); the strips stay codegen ``regexp_replace``.  Scan-side
    projection, zero shuffle — the UDF cost is bandwidth-bound on the
    Arrow transfer, linear in bytes, embarrassingly parallel at any
    cluster size.  Oracle twin: DuckDB ``nfc_normalize`` (utf8proc) —
    an independent NFC implementation checked equal."""
    cleaned = normalize_text_col("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.length(cleaned).alias("n_chars_norm"),
        (cleaned != F.col("text")).alias("changed"),
        F.md5(cleaned).alias("norm_hash"),
    )


def split_contamination(docs: DataFrame) -> DataFrame:
    """Cross-split contamination audit: after the default
    ``hash_split``, what fraction of each ``test`` document's distinct
    word 5-grams also appears anywhere in ``train``?  The post-split
    hygiene check that catches what per-doc dedup missed (an eval doc
    quoting a train doc scores as memorization, not generalization).

    Unlike ``ngram_decontaminate`` — where the benchmark side is tiny
    and broadcasts — the train side here is ~90 % of the corpus, so
    the shared-gram check is a relational equi-join on the gram key:
    train grams dedup in one partial-aggregated exchange, eval
    postings equi-join on gram (shuffle ∝ distinct postings, the
    sides co-partition), then a per-doc rollup.  Nothing broadcasts,
    nothing is quadratic.

    Returns one row per eval doc, including gram-less ones:
    (doc_id, n_grams, n_shared, contamination)."""
    from gclog_parser_spark.operators.sampling import hash_split

    s = hash_split(docs)
    grams = s.select(
        "doc_id", "split", _words(F.col("text")).alias("w")
    ).select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(_shingle_expr(F.col("w"), 5))
        ).alias("gram"),
    )
    train_g = (
        grams.where(F.col("split") == "train")
        .select("gram")
        .distinct()
    )
    ev = grams.where(F.col("split") == "test")
    tot = ev.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    shd = (
        ev.join(train_g, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    base = s.where(F.col("split") == "test").select("doc_id")
    n_grams = F.coalesce("n_grams", F.lit(0)).cast("long")
    n_shared = F.coalesce("n_shared", F.lit(0)).cast("long")
    return (
        base.join(tot, "doc_id", "left")
        .join(shd, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_shared.alias("n_shared"),
            F.round(
                n_shared / F.greatest(n_grams, F.lit(1)), 6
            ).alias("contamination"),
        )
    )


def unigram_surprisal_buckets(docs: DataFrame) -> DataFrame:
    """CC-Net-style corpus bucketing (Wenzek et al. 2020): score every
    document with a unigram model TRAINED ON THE CORPUS ITSELF, then
    split each language into head/middle/tail terciles by score — the
    filtering step that keeps a web crawl's fluent third and quarantines
    the gibberish tail without any external model.

    The LM surprisal is the rational variant (the same
    transcendental-free trick as `tfidf_topk`): per word,
    ``surp_w = (C + V) / (c_w + 1)`` — the inverse add-one-smoothed
    unigram probability — quantized to integer ticks
    (``round(1e6·surp_w)``, F.round = DuckDB round).  A document's
    score is the tf-weighted mean tick / 1e6 rounded to 6 dp: every
    cross-row sum is exact BIGINT, the only float ops are one IEEE
    division (exactly specified, bit-identical cross-engine) and the
    final rounding, so no accumulation order can disagree.  Real
    perplexity would need ``log`` — 1-ulp implementation drift per
    libm — and orders documents identically to the mean-surprisal
    proxy wherever the model is peaked, which is what the buckets care
    about.

    Returns ``(doc_id, lang, n_tokens, surprisal, bucket)`` with
    bucket 1 = head (most predictable) … 3 = tail.  Bucketing is
    ``ntile(3)`` per language ordered by (surprisal, doc_id) — the
    rounded score is identical in both engines, so the doc_id
    tie-break makes tile edges deterministic.

    Scale shape: tf is one (doc_id, word) exchange of exploded words;
    the corpus counts aggregate that pre-collapsed relation (one word
    exchange, stop-word skew pre-summed map-side); C and V ride along
    as a broadcast one-row relation (no driver state); scoring joins
    tf⋈counts on word (output ∝ postings, AQE splits hot words); one
    doc exchange for the mean; one lang exchange for the tiles.
    """
    from pyspark.sql import Window

    tf = (
        docs.select(
            "doc_id", "lang", F.explode(_words(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "lang", "word")
        .agg(F.count("*").alias("tf"))
    )
    cw = tf.groupBy("word").agg(F.sum("tf").alias("cw"))
    totals = cw.agg(
        F.sum("cw").alias("C"), F.count("*").alias("V")
    )
    tick = F.round(
        (F.col("C") + F.col("V")).cast("double")
        / (F.col("cw") + F.lit(1)).cast("double")
        * 1_000_000
    ).cast("long")
    scored = (
        tf.join(cw, "word")
        .crossJoin(F.broadcast(totals))
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
            ).alias("surprisal"),
        )
    )
    w = Window.partitionBy("lang").orderBy("surprisal", "doc_id")
    return scored.withColumn("bucket", F.ntile(3).over(w))


#: hashed-feature buckets of the ``classifier_score`` model
N_FEATURE_BUCKETS = 4096


def hashed_feature_weights(spark):
    """Deterministic exported-model weight table for
    ``classifier_score``: one row per hashed-feature bucket
    (``N_FEATURE_BUCKETS``) with an integer weight tick in [-1e6, 1e6]
    derived from md5 of the bucket id — a stand-in for a trained
    fastText/logistic model's exported coefficients that both engines
    can regenerate bit-identically (no model file in the sandbox).  In
    production this relation is the classifier artifact loaded from
    storage; everything downstream (broadcast join shape, scoring
    arithmetic) is exactly what serving a real exported model looks
    like."""
    from gclog_parser_spark.operators.dedup import md5_long

    return spark.range(N_FEATURE_BUCKETS).select(
        F.col("id").alias("bucket"),
        (
            md5_long(F.concat(F.lit("w:"), F.col("id").cast("string")))
            % 2_000_001
            - 1_000_000
        ).alias("w_tick"),
    )


def classifier_score(docs: DataFrame) -> DataFrame:
    """Linear text-classifier INFERENCE at corpus scale — the
    quality/toxicity/domain-filter step of an LLM data pipeline
    (fastText-style: hashed bag of word uni+bigrams → weight lookup →
    mean).  The model is a weight RELATION (one row per feature
    bucket, broadcast — dim-sized by construction: buckets, not
    vocabulary), so scoring is a broadcast equi-join plus one
    aggregate, never a Python loop over tokens.

    Features: ``u:<word>`` unigrams and ``b:<w1> <w2>`` bigrams,
    hashed to ``N_FEATURE_BUCKETS`` buckets with the portable 60-bit md5
    hash
    (feature hashing — collisions are part of the model, same trick
    as Vowpal Wabbit / fastText's hashed n-grams).  The score is the
    tf-weighted MEAN weight tick / 1e6 (one IEEE division, round 6);
    ``keep`` is the sign test on the exact integer tick sum, so the
    decision boundary cannot float-drift between engines.

    Scale shape: explode → one (doc, bucket) exchange for tf → weight
    join BROADCAST (``N_FEATURE_BUCKETS`` rows) → one doc exchange for
    the sum.
    Two exchanges total, both ∝ doc features; the model never
    shuffles.  Reference has no classifier; north-rule quality
    filtering (BASELINE.json)."""
    from gclog_parser_spark.operators.dedup import (
        _shingle_expr,
        _words,
        md5_long,
    )

    weights = hashed_feature_weights(docs.sparkSession)
    # materialize the words array in its own projection: passing the
    # split() expression straight into _shingle_expr re-evaluates the
    # regex split per element_at (O(words) splits per doc, ~30x wall)
    w = F.col("w")
    feats = docs.select(
        "doc_id", _words(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(w, lambda x: F.concat(F.lit("u:"), x)),
                F.transform(
                    _shingle_expr(w, 2),
                    lambda x: F.concat(F.lit("b:"), x),
                ),
            )
        ).alias("feat"),
    )
    tf = (
        feats.select(
            "doc_id",
            (md5_long(F.col("feat")) % N_FEATURE_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("w_tick")).alias("ticks"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(
                F.col("ticks") / F.col("n_feats") / F.lit(1e6), 6
            ).alias("score"),
            (F.col("ticks") >= 0).alias("keep"),
        )
    )


def oov_rate(docs: DataFrame) -> DataFrame:
    """Tokenizer-coverage audit: per-document out-of-vocabulary rate
    against a vocabulary TRAINED ON THE CORPUS ITSELF — the top 100
    word bigrams by frequency (count DESC, bigram ASC
    tie-break, so the vocabulary boundary is deterministic).  The
    pipeline question it answers: how much of each document would a
    fixed-size tokenizer vocabulary fail to cover, i.e. which docs
    blow up into fallback tokens and inflate training cost.

    Scale shape: bigram counts are one partial-aggregated exchange;
    vocabulary selection is ``ORDER BY ... LIMIT V`` — Spark plans
    TakeOrderedAndProject (map-side partial top-k per partition, never
    a global sort of the vocabulary relation); membership is a
    BROADCAST left join of the V-row vocab against the exploded
    bigrams; one doc exchange aggregates coverage.  Reference has no
    text ops; north-rule tokenizer-coverage audit (BASELINE.json)."""
    from gclog_parser_spark.operators.dedup import _shingle_expr, _words

    # words array materialized first — see classifier_score note
    bg = docs.select(
        "doc_id", _words(F.col("text")).alias("w")
    ).select(
        "doc_id",
        F.explode(_shingle_expr(F.col("w"), 2)).alias("bigram"),
    )
    vocab = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "bigram")
        .limit(100)
        .select("bigram", F.lit(1).alias("in_vocab"))
    )
    return (
        bg.join(F.broadcast(vocab), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_bigrams"), 6).alias(
                "oov_rate"
            ),
        )
    )


def word_drift(docs_a: DataFrame, docs_b: DataFrame) -> DataFrame:
    """Corpus-drift monitoring between two snapshots/splits: per-word
    contribution to the total-variation distance between the two word
    distributions — the shift detector a pipeline runs between crawl
    batches before retraining (did the word mix move, and which words
    moved it).  TV is the RATIONAL divergence (KL needs ``log`` and
    its per-libm ulp drift): each share is one IEEE division of exact
    counts quantized to integer ticks (``round(1e9·c/T)``), the drift
    is the exact |tick difference| / 1e9, and ``sum(drift)/2`` over
    the output is the corpus-level TV distance.

    Words present in only one snapshot get share 0 in the other (full
    outer join).  Returns ``(word, n_a, n_b, drift)``.

    Scale shape: each side is one partial-aggregated word exchange;
    the grand totals ride back as broadcast one-row relations; the
    full outer join keys on word (AQE splits hot words).  Driver
    holds nothing.  Reference has no text ops; north-rule corpus
    monitoring (BASELINE.json)."""
    from gclog_parser_spark.operators.dedup import _words

    def counts(d):
        return (
            d.select(F.explode(_words(F.col("text"))).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("c"))
        )

    ca, cb = counts(docs_a), counts(docs_b)
    ta = ca.agg(F.sum("c").alias("ta"))
    tb = cb.agg(F.sum("c").alias("tb"))
    joined = (
        ca.withColumnRenamed("c", "n_a")
        .join(cb.withColumnRenamed("c", "n_b"), "word", "full_outer")
        .na.fill({"n_a": 0, "n_b": 0})
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    tick_a = F.round(F.col("n_a") * F.lit(1e9) / F.col("ta")).cast("long")
    tick_b = F.round(F.col("n_b") * F.lit(1e9) / F.col("tb")).cast("long")
    return joined.select(
        "word",
        "n_a",
        "n_b",
        F.round(F.abs(tick_a - tick_b) / F.lit(1e9), 6).alias("drift"),
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Interpolated bigram language-model scoring — the KenLM-filter
    shape of a CCNet/RedPajama pipeline one level up from
    :func:`unigram_surprisal_buckets`: TRAIN an LM on the hash-split
    ``train`` docs, score EVERY doc (so held-out fluency is measured
    by a model that never saw the doc), keep the head.

    The model is Jelinek-Mercer interpolation with lambda = 1/2:
    ``p(cur|prev) = (c2/c1 + (cu+1)/(C+V)) / 2`` where c2 = train
    bigram count, c1 = train count of the context word (>=1 guard for
    unseen contexts), cu = train count of cur, C/V = train token/vocab
    totals.  Per position the INVERSE probability is the exact
    rational ``2*b*d / (a*d + c*b)`` (a=c2, b=max(c1,1), c=cu+1,
    d=C+V) — integer numerator and denominator, ONE IEEE double
    division, tick-quantized (round * 1e6, HALF_UP in both engines),
    summed as exact BIGINT; a doc's score is the mean tick / 1e6.  No
    transcendental, no accumulation-order sensitivity — bit-identical
    cross-engine (same trick as tfidf/surprisal, extended to a trained
    conditional model).  BIGINT headroom caps exactness at ~1.4e9
    train tokens (2*b*d <= 2^63); past that a production run drops to
    DOUBLE counts and accepts 1-ulp drift, or shards the LM by
    context-hash.

    Returns ``(doc_id, split, n_bigrams, lm_surprisal)`` — single-word
    and empty docs have no bigram positions and are excluded.

    Scale shape: bigram extraction is scan-side (two array slices +
    zip, zero shuffle before the counts); c2/c1 are one exchange each
    of the postings relations; scoring is three postings-sized
    equi-joins (AQE splits hot contexts — stop-word pairs are the
    skew) plus one broadcast totals row; one final doc_id exchange.
    The reference has no text ops; north-rule quality-scoring family
    (BASELINE.json input_hint).
    """
    from gclog_parser_spark.operators.sampling import hash_split

    d = hash_split(docs).select(
        "doc_id", "split", _words(F.col("text")).alias("w")
    )
    bi = (
        d.withColumn("prev_a", F.expr("slice(w, 1, size(w)-1)"))
        .withColumn("cur_a", F.expr("slice(w, 2, size(w)-1)"))
        .select(
            "doc_id",
            "split",
            F.explode(F.arrays_zip("prev_a", "cur_a")).alias("p"),
        )
        .select(
            "doc_id",
            "split",
            F.col("p.prev_a").alias("prev"),
            F.col("p.cur_a").alias("cur"),
        )
    )
    tok = d.filter(F.col("split") == "train").select(
        F.explode("w").alias("word")
    )
    c1 = tok.groupBy("word").agg(F.count("*").alias("n1"))
    tot = c1.agg(F.sum("n1").alias("C"), F.count("*").alias("V"))
    c2 = (
        bi.filter(F.col("split") == "train")
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("n2"))
    )
    a = F.coalesce(F.col("n2"), F.lit(0))
    b = F.greatest(F.coalesce(F.col("np"), F.lit(0)), F.lit(1))
    c = F.coalesce(F.col("nc"), F.lit(0)) + F.lit(1)
    dd = F.col("C") + F.col("V")
    tick = (
        F.round(
            (F.lit(2) * b * dd).cast("double")
            / (a * dd + c * b).cast("double")
            * F.lit(1000000.0)
        )
        .cast("long")
    )
    return (
        bi.join(c2, ["prev", "cur"], "left")
        .join(
            c1.select(
                F.col("word").alias("prev"), F.col("n1").alias("np")
            ),
            "prev",
            "left",
        )
        .join(
            c1.select(
                F.col("word").alias("cur"), F.col("n1").alias("nc")
            ),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "split")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(tick).alias("ticks"),
        )
        .select(
            "doc_id",
            "split",
            "n_bigrams",
            F.round(
                F.col("ticks").cast("double")
                / F.col("n_bigrams").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("lm_surprisal"),
        )
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
) -> DataFrame:
    """Top-10 hybrid retrieval via reciprocal-rank fusion (Cormack,
    Clarke & Buettcher, SIGIR 2009): fuse the LEXICAL ranking (per-doc
    sum of BM25 scores over the per-term top-20 pools from
    :func:`bm25_topk`) with the SEMANTIC ranking (embedding-cosine
    top-20 for vector 0 from ``similarity.cosine_topk``, ``vec_id``
    aligned to ``doc_id``) — the standard first stage of a RAG
    retriever.  ``rrf = 1/(60 + lex_rank) + 1/(60 + sem_rank)`` with an
    absent list contributing 0.

    Cross-engine exactness: the 6-dp BM25 scores become integer ticks
    (``round(score * 1e6)`` BIGINT) so the per-doc sum is associative;
    each reciprocal is ONE IEEE division, the fusion adds exactly two
    doubles in a fixed order, rounded to 9 dp; every ranking
    tie-breaks by doc_id.

    Scale shape: both input systems are already bounded (per-term
    window top-k; TakeOrdered corpus scan), so the fusion operates on
    ≤ ``len(terms)·20 + 20`` rows — the single-partition rank
    windows and the outer join are driver-trivial by construction, NOT
    a corpus-sized global sort."""
    from pyspark.sql import Window

    from gclog_parser_spark.operators.similarity import cosine_topk

    lex_pool = bm25_topk(docs, terms, k=20).select(
        "doc_id",
        F.round(F.col("score") * 1e6).cast("long").alias("ticks"),
    )
    wl = Window.orderBy(F.desc("lex_ticks"), F.asc("doc_id"))
    lex = (
        lex_pool.groupBy("doc_id")
        .agg(F.sum("ticks").alias("lex_ticks"))
        .select(
            "doc_id", F.row_number().over(wl).alias("lex_rank")
        )
        .where(F.col("lex_rank") <= 20)
    )
    ws = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    sem = (
        cosine_topk(emb, k=20)
        .select(F.col("vec_id").alias("doc_id"), "sim")
        .select(
            "doc_id", F.row_number().over(ws).alias("sem_rank")
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("lex_rank")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("sem_rank")),
                F.lit(0.0),
            ),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """C4's line-level cleaning rules (Raffel et al. 2020, "Exploring
    the Limits of Transfer Learning", §2.2) — the step BETWEEN raw
    extraction and the document-level Gopher gate
    (:func:`corpus_filter`): keep only lines that end in terminal
    punctuation (``. ! ? "``) and have ≥ 5 words, drop code-ish lines
    (``{`` or the word ``javascript``), then drop the whole document
    when fewer than 3 lines survive
    or it contains the ``lorem ipsum`` placeholder.

    Pure scan-side lambda pipeline (split → ``F.filter`` HOF →
    ``array_join``): no shuffle, no Python — at 100 TB this runs at
    scan speed exactly like ``corpus_filter``, and a downstream
    ``WHERE kept`` pushes into the scan.  The line predicates are
    Spark lambda exprs re-derived in DuckDB as ``list_filter`` —
    engines agree on every line verdict, not just the counts.

    Returns ``(doc_id, n_lines, n_kept, kept)``."""
    lines = F.split(F.col("text"), "\n")

    def _keep(line):
        words = F.split(F.trim(line), r"\s+")
        return (
            line.rlike(r'[.!?"]\s*$')
            & (F.size(words) >= F.lit(5))
            & ~line.contains("{")
            & ~F.lower(line).contains("javascript")
        )

    kept_lines = F.filter(lines, _keep)
    return docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept_lines).alias("n_kept"),
        (
            (F.size(kept_lines) >= F.lit(3))
            & ~F.lower(F.col("text")).contains("lorem ipsum")
        ).alias("kept"),
    )


def encoding_stats(docs: DataFrame) -> DataFrame:
    """Encoding-health verdict per document — the crawl-side cousin of
    :func:`corpus_filter`: web extraction pipelines leak U+FFFD
    replacement characters (bad byte sequences), raw C0 control bytes
    (binary sniffed as text), and the ``Ã``-style double-encoding
    signature (UTF-8 read as Latin-1) into the corpus, and a trained
    model memorizes all three.

    Counts are length deltas of codegen ``regexp_replace``/
    ``replace`` — no per-char loop, no Python, zero exchanges; the
    ``bad`` flag is pure integer arithmetic (control chars > 0.1 % of
    chars, any replacement char, or ≥ 3 double-encoding hits) so both
    engines agree without a float threshold."""
    text = F.col("text")
    n_chars = F.length(text)
    n_repl = n_chars - F.length(F.regexp_replace(text, "�", ""))
    n_ctrl = n_chars - F.length(
        F.regexp_replace(
            text, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", ""
        )
    )
    # 'Ã' = 0xC3 read as Latin-1: every UTF-8 2-byte sequence for
    # U+00C0-U+00FF mis-decoded leaves one — a count, not a regex
    n_sig = n_chars - F.length(F.replace(text, F.lit("Ã")))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_sig.alias("n_mojibake_sig"),
        (
            (n_repl > 0)
            | (n_ctrl * 1000 > n_chars)
            | (n_sig >= 3)
        ).alias("bad"),
    )


def lang_agreement(docs: DataFrame) -> DataFrame:
    """Language-metadata audit: the (declared lang × predicted lang)
    confusion matrix over :func:`lang_id`, with per-cell doc counts
    and the declared-language row share — crawl metadata lies often
    enough (mislabeled hreflang, server defaults) that corpus
    pipelines gate on exactly this disagreement table before trusting
    the `lang` column for mixture weighting.

    Exact arithmetic: counts are BIGINT; `row_share` is the single
    IEEE division cell/row-total, HALF_UP 6 dp.  Plan: the scan-side
    lang_id projection → partial agg → ONE exchange on the pair key;
    the row totals reuse the same aggregate through a window over the
    declared key (no second scan, no second wide exchange at the
    declared-lang grain)."""
    from pyspark.sql import Window

    cells = (
        lang_id(docs)
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    tot = F.sum("n_docs").over(Window.partitionBy("declared_lang"))
    return cells.select(
        "declared_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / tot, 6).alias("row_share"),
        (F.col("declared_lang") == F.col("pred_lang")).alias("agree"),
    )


def ngram_diversity(docs: DataFrame, k: int = 2) -> DataFrame:
    """Per-source n-gram diversity — the distinct-over-total ``k``-gram
    ratio (the corpus-level cousin of self-BLEU): template farms and
    spun content collapse the ratio, genuine prose keeps it high;
    corpus audits read it next to :func:`repetition_stats` before
    mixing a new source in.

    Exact counts (BIGINT total and distinct), ONE IEEE division.
    Plan: shingles explode scan-side (materialized words array, see
    ``dedup._shingle_expr``), then one partial-agged exchange on
    (source, gram) for the distinct count and one on source for the
    rollup — shuffle ∝ distinct grams, never ∝ corpus text."""
    grams = docs.select(
        "source", _words(F.col("text")).alias("w")
    ).select(
        "source", F.explode(_shingle_expr(F.col("w"), k)).alias("g")
    )
    per_gram = grams.groupBy("source", "g").agg(
        F.count("*").cast("long").alias("n")
    )
    return per_gram.groupBy("source").agg(
        F.sum("n").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.round(F.count("*") / F.sum("n"), 6).alias("diversity"),
    )


def readability(docs: DataFrame) -> DataFrame:
    """Per-document Flesch reading-ease + Flesch-Kincaid grade level
    (Kincaid et al. 1975) — the classic prose-complexity prior a
    corpus-quality gate reads next to :func:`quality_stats`
    (surface ratios) and :func:`repetition_stats` (burstiness):
    curriculum schedules and mix caps key off the grade band, and
    gibberish (syllable-free letter soup or 300-word "sentences")
    lands in the extreme bands for free.

    Counting rules (shared verbatim with the DuckDB oracle so parity
    is meaningful):

      words     = maximal ``\\S+`` runs
      sentences = maximal ``[.!?]+`` runs, floored at 1 (headline-style
                  text with no terminator is one sentence)
      syllables = maximal vowel-group runs ``[aeiouy]+`` over the
                  lowercased text — the standard cheap heuristic

    Scores (ratios are ONE IEEE division each, formulas evaluated in
    identical literal order on both engines, rounded HALF_UP at 6 dp):

      ease  = 206.835 - 1.015*(words/sentences) - 84.6*(syll/words)
      grade = 0.39*(words/sentences) + 11.8*(syll/words) - 15.59

    A wordless document yields NULL scores and NULL band rather than a
    division crash; the band thresholds (90/70/50/30) compare the
    ROUNDED ease so the label can never straddle an ulp.

    Scale: pure scan-side codegen — three ``regexp_count`` over the
    text column, zero exchange, zero Python; at 10^12 pages this runs
    at parquet-scan speed and the output partitions inherit the scan.
    """
    text = F.col("text")
    n_words = _count_re(text, r"\S+")
    n_sent = F.greatest(_count_re(text, r"[.!?]+"), F.lit(1))
    n_syll = _count_re(F.lower(text), r"[aeiouy]+")
    wps = n_words / n_sent
    spw = n_syll / n_words
    ease = F.when(
        n_words > 0,
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6),
    )
    grade = F.when(
        n_words > 0,
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6),
    )
    band = (
        F.when(ease.isNull(), F.lit(None).cast("string"))
        .when(ease >= 90, F.lit("very_easy"))
        .when(ease >= 70, F.lit("easy"))
        .when(ease >= 50, F.lit("standard"))
        .when(ease >= 30, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        ease.alias("reading_ease"),
        grade.alias("fk_grade"),
        band.alias("band"),
    )


def cooccur_pairs(docs: DataFrame) -> DataFrame:
    """Within-document unordered co-occurrence mining (the 2-itemset
    level of Apriori, Agrawal & Srikant VLDB'94, over documents as
    baskets): for every word pair, in how many documents do BOTH
    appear, plus each word's own document frequency and the lift
    ``P(a,b) / (P(a)·P(b))`` — the collocation/market-basket signal a
    corpus audit reads next to :func:`corpus_ngrams` (ADJACENT k-grams;
    this is order-free co-presence, which adjacency misses entirely —
    "spark…shuffle" co-occurring ten words apart).

    The scale story IS the Apriori property: a pair can reach
    ``min_support`` (5 documents) only if BOTH words individually do,
    so words are pruned by document frequency BEFORE the quadratic per-doc pair
    join — the candidate explosion is bounded by frequent words per
    doc, not vocabulary.  Exact BIGINT counts; lift is ONE IEEE
    division of BIGINT products (``n_pair·N / (df_a·df_b)``), HALF_UP
    6 dp.  Pair key is canonicalized ``w1 < w2`` (string order), so
    the result is a pure function of the corpus.

    Plan: distinct (doc, word) exchange → df filter (broadcast-sized
    frequent vocab at any corpus scale: it's ∝ words above min_support,
    not docs) → per-doc self-join of the pruned token sets → one
    partial-agged (w1, w2) exchange.  At 10^12 docs ``min_support``
    would rise with the corpus — support thresholds are relative in
    practice — and the pruned join stays bounded."""
    min_support = 5
    dw = (
        docs.select(
            "doc_id", F.explode(_words(F.col("text"))).alias("w")
        )
        .where(F.col("w") != "")
        .distinct()
    )
    n_docs = docs.select(F.countDistinct("doc_id")).first()[0]
    df_w = dw.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    frequent = df_w.where(F.col("df") >= min_support)
    pruned = dw.join(F.broadcast(frequent), "w")
    a = pruned.select(
        "doc_id", F.col("w").alias("w1"), F.col("df").alias("df1")
    )
    b = pruned.select(
        "doc_id", F.col("w").alias("w2"), F.col("df").alias("df2")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2", "df1", "df2")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= min_support)
    )
    return pairs.select(
        "w1",
        "w2",
        "n_pair",
        "df1",
        "df2",
        F.round(
            (F.col("n_pair") * F.lit(int(n_docs)))
            / (F.col("df1") * F.col("df2")),
            6,
        ).alias("lift"),
    )


def effective_tokens(docs: DataFrame) -> DataFrame:
    """Effective-token accounting after near-dup dedup — the capacity
    number a training plan actually budgets: per source, raw tokens
    vs tokens surviving on the MinHash-cluster keepers
    (``dedup.dedup_clusters``), and the dup share that dedup claws
    back.  Raw `token_counts` overstates a templated source's
    contribution; this is the corrected row ("source X brings 9M
    tokens, but only 7.1M after dedup") that decides mix weights.

    Exact BIGINT token sums on both branches, ONE IEEE division for
    the share (NULL when a source has zero raw tokens).  Plan: the
    per-doc token count is scan-side regexp codegen; the keeper flag
    joins on doc_id (docs-sized but two-column, shuffle ∝ corpus rows
    once — at 10^12 docs this is the same join the dedup survivor
    write already does); then one partial-agged exchange on source."""
    from gclog_parser_spark.operators.dedup import dedup_clusters

    toks = docs.select(
        "doc_id",
        "source",
        _count_re(F.col("text"), TOKEN_RE).cast("long").alias("t"),
    )
    keep = dedup_clusters(docs).select("doc_id", "is_keeper")
    j = toks.join(keep, "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.sum(F.when(F.col("is_keeper"), 0).otherwise(1))
            .cast("long")
            .alias("docs_dropped"),
            F.sum("t").alias("tokens_raw"),
            F.sum(F.when(F.col("is_keeper"), F.col("t")).otherwise(0))
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "docs",
            "docs_dropped",
            "tokens_raw",
            "tokens_kept",
            F.when(
                F.col("tokens_raw") > 0,
                F.round(
                    F.lit(1) - F.col("tokens_kept") / F.col("tokens_raw"),
                    6,
                ),
            ).alias("dup_token_share"),
        )
    )
