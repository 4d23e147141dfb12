"""Repetition signals and PII scrubbing (operators/textstats.py) —
value parity vs DuckDB runs in test_oracle_parity.py; here the
semantics are pinned on constructed documents."""

import pyspark.sql.functions as F

from gclog_parser_spark.operators.textstats import (
    repetition_stats,
    scrub_pii,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_repetition_ratios(spark):
    docs = _docs(
        spark,
        [
            (1, "a b\na b\na b\nc d"),       # 4 lines, 2 distinct
            (2, "one two three four five"),  # no repetition
            (3, "spam ham " * 20),           # dominant bigram
        ],
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_ratio"] == 0.5
    assert out[2]["dup_line_ratio"] == 0.0
    # doc 3: 40 words, "ham spam" appears 19 times / 39 bigrams
    assert out[3]["top_bigram_ratio"] > 0.45
    assert out[2]["top_bigram_ratio"] == 0.25  # all bigrams unique


def test_repetition_single_word_doc(spark):
    out = repetition_stats(_docs(spark, [(1, "word")])).collect()[0]
    assert out["top_bigram_ratio"] == 0.0  # no bigrams at all


def test_scrub_counts_and_redacts(spark):
    docs = _docs(
        spark,
        [
            (1, "mail me at bob@example.com or visit "
                "https://example.com/x?y=1 now"),
            (2, "call +1 555-123-4567 today"),
            (3, "clean text with no pii here"),
        ],
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_url"] == 1
    assert out[2]["n_phone"] == 1
    assert (
        out[3]["n_email"] == out[3]["n_url"] == out[3]["n_phone"] == 0
    )


def test_scrub_digest_changes_only_with_pii(spark):
    docs = _docs(
        spark,
        [(1, "clean text stays identical"), (2, "mail a@b.co now")],
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    # doc 1 untouched: digest equals digest of the original text
    got = spark.createDataFrame(
        [("clean text stays identical",)], ["t"]
    ).select(F.md5("t").alias("h")).collect()[0]["h"]
    assert out[1]["scrubbed_hash"] == got
    redacted = spark.createDataFrame(
        [("mail <EMAIL> now",)], ["t"]
    ).select(F.md5("t").alias("h")).collect()[0]["h"]
    assert out[2]["scrubbed_hash"] == redacted


def test_strip_boilerplate(spark):
    from gclog_parser_spark.operators.textstats import strip_boilerplate

    nav = "Home | About | Contact"
    docs = _docs(
        spark,
        [(i, f"{nav}\nunique content {i}\ncopyright footer")
         for i in range(11)]
        + [(99, "standalone doc with no boilerplate")],
    )
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate(docs).collect()
    }
    # nav + footer appear in 11 docs (> 10) → removed from each
    assert out[0]["n_lines"] == 3 and out[0]["n_removed"] == 2
    assert out[99]["n_removed"] == 0
    # cleaned text of doc 2 is exactly its unique line
    want = spark.createDataFrame(
        [("unique content 2",)], ["t"]
    ).select(F.md5("t").alias("h")).collect()[0]["h"]
    assert out[2]["cleaned_hash"] == want


def test_strip_boilerplate_all_lines_hot(spark):
    from gclog_parser_spark.operators.textstats import strip_boilerplate

    docs = _docs(spark, [(i, "same line") for i in range(11)])
    out = strip_boilerplate(docs).collect()
    assert all(r["n_removed"] == 1 for r in out)
    empty = spark.createDataFrame([("",)], ["t"]).select(
        F.md5("t").alias("h")
    ).collect()[0]["h"]
    assert all(r["cleaned_hash"] == empty for r in out)


def test_corpus_ops_survive_hostile_text(spark):
    """One battery of adversarial documents through every corpus
    operator: no exceptions, row counts preserved.  (The pure-Python
    parser has its own hypothesis fuzz; these are the Spark-expression
    ops, exercised on the inputs that break naive regex/split logic.)"""
    from gclog_parser_spark.operators.dedup import dedup_clusters
    from gclog_parser_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )
    from gclog_parser_spark.operators.textstats import (
        corpus_filter,
        quality_stats,
        repetition_stats,
        scrub_pii,
        strip_boilerplate,
    )

    hostile = [
        "",                                   # empty
        " ",                                  # whitespace only
        "\n\n\n",                             # newlines only
        "x" * 50_000,                         # one huge token
        "a@b.c " * 1000,                      # email storm
        "((((((((",                           # regex metachars
        "\\d+\\s*[KMG]->",                    # pattern-looking text
        "héllo wörld é世界",     # non-ascii
        "\t\t mixed \r whitespace  ",
        "💥 emoji 🚀 text 🎉",
        "'; DROP TABLE documents; --",
        "∑ ∫ √ math " * 50,
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(hostile)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    n = len(hostile)
    assert quality_stats(docs).count() == n
    assert corpus_filter(docs).count() == n
    assert repetition_stats(docs).count() == n
    assert scrub_pii(docs).count() == n
    assert strip_boilerplate(docs).count() == n
    assert dedup_clusters(docs).count() == n
    assert hash_split(docs).count() == n
    assert stratified_sample(docs, rates={"en": 1.0}).count() == n


def test_corpus_ngrams_counts_and_cut(spark):
    """Global bigram count + exact doc frequency, deterministic
    (n DESC, ngram ASC) cut."""
    from gclog_parser_spark.operators.textstats import corpus_ngrams

    docs = _docs(
        spark,
        [
            (0, "a b a b c"),   # bigrams: a b, b a, a b, b c
            (1, "a b x"),       # bigrams: a b, b x
            (2, "zz"),          # no bigram (single word)
        ],
    )
    got = {
        (r["ngram"], r["n"], r["df"])
        for r in corpus_ngrams(docs, k=2, top=3).collect()
    }
    assert got == {("a b", 3, 2), ("b a", 1, 1), ("b c", 1, 1)}


def test_fuzzy_pairs_semantics_and_block_cap(spark):
    from gclog_parser_spark.operators.textstats import fuzzy_pairs

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (1, base),
        (2, base.replace("jumps", "jumpz")),        # 2 subs in 96-head
        (3, "совершенно другой текст " * 6),        # different prefix
        (4, base + "x" * 500),                      # same prefix, len far
    ]
    # a hot prefix block larger than the cap must be dropped entirely
    hot = [(100 + i, "HOT PREFIX SHARED " + ("z" * i)) for i in range(51)]
    docs = spark.createDataFrame(rows + hot, "doc_id long, text string")

    got = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in fuzzy_pairs(docs).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 2
    assert all(a < 100 and b < 100 for a, b in got)  # hot block dropped
    assert not any(3 in p for p in got)              # prefix blocks differ
    assert not any(4 in p for p in got)              # length filter
    # identical docs → distance 0
    twins = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    t = fuzzy_pairs(twins).collect()
    assert len(t) == 1 and t[0]["edit_dist"] == 0


def test_postings_and_bm25_hostile_text(spark):
    """Hostile inputs must not crash or distort: empty text, unicode,
    repeated single word, huge token."""
    from gclog_parser_spark.operators.textstats import bm25_topk, postings

    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "данные данные данные"),
            (3, "data " * 50),
            (4, "x" * 10000),
            (5, "data table data"),
        ],
        "doc_id long, text string",
    )
    post = {(r["word"], r["doc_id"]): r for r in postings(docs).collect()}
    assert post[("данные", 2)]["tf"] == 3
    assert post[("data", 3)]["tf"] == 50
    assert post[("data", 5)]["first_pos"] == 0
    assert ("x" * 10000, 4) in post

    top = bm25_topk(docs, ["data"], k=10).collect()
    got_docs = {r["doc_id"] for r in top}
    assert got_docs == {3, 5}
    # tf saturation: doc 3 (tf=50, long) must not score 25x doc 5
    s = {r["doc_id"]: r["score"] for r in top}
    assert s[3] < 3 * s[5]


def test_line_dedup_keep_first_within_and_across_docs(spark):
    from gclog_parser_spark.operators.textstats import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha"),  # within-doc dup: pos-2 alpha drops
            (2, "beta\ngamma"),          # beta already seen in doc 1
            (3, "alpha\nbeta"),          # both drop -> empty kept text
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert got[1]["n_lines"] == 3 and got[1]["n_kept"] == 2
    assert got[2]["n_kept"] == 1 and got[2]["n_dropped"] == 1
    # doc 3 loses everything but still yields a row, hashing ''
    assert got[3]["n_kept"] == 0
    import hashlib

    assert got[3]["kept_hash"] == hashlib.md5(b"").hexdigest()
    assert got[1]["kept_hash"] == hashlib.md5(b"alpha\nbeta").hexdigest()
    assert got[2]["kept_hash"] == hashlib.md5(b"gamma").hexdigest()


def test_line_dedup_plan_is_partial_agg_not_window(spark):
    """The keeper is min(struct) — partial-aggregated map-side so a
    10^9-copy hot line never sorts one window partition.  Pin: no
    Window node in the physical plan."""
    from gclog_parser_spark.operators.textstats import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "partial" in plan


def test_normalize_text_nfc_controls_and_whitespace(spark):
    from gclog_parser_spark.operators.textstats import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "Café"),            # NFC: e + U+0301 -> é (4 chars)
            (2, "a\u0007b"),      # BEL stripped, no space left
            (3, "x \t \u00a0\u200by"),  # ws run incl NBSP/ZWSP -> space
            (4, " padded "),              # trimmed
            (5, "plain"),                 # untouched
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert got[1]["n_chars_raw"] == 5 and got[1]["n_chars_norm"] == 4
    assert got[1]["changed"] is True
    import hashlib

    assert got[1]["norm_hash"] == hashlib.md5("Café".encode()).hexdigest()
    assert got[2]["norm_hash"] == hashlib.md5(b"ab").hexdigest()
    assert got[3]["norm_hash"] == hashlib.md5(b"x y").hexdigest()
    assert got[4]["norm_hash"] == hashlib.md5(b"padded").hexdigest()
    assert got[5]["changed"] is False


# ---- CC-Net surprisal buckets -------------------------------------------


def test_ccnet_buckets_order_and_tiles(spark):
    """Docs made of corpus-common words score low (head, bucket 1);
    docs of corpus-unique gibberish score high (tail, bucket 3); each
    language tiles independently and near-evenly."""
    from gclog_parser_spark.operators.textstats import (
        unigram_surprisal_buckets,
    )

    common = "the cat sat on the mat"
    rows = [(i, f"{common} extra{i % 3}", "en") for i in range(9)]
    rows.append((100, "zqx wvu jkl pqr mno abc", "en"))  # gibberish
    rows += [(200 + i, common, "de") for i in range(3)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    out = {r["doc_id"]: r for r in unigram_surprisal_buckets(docs).collect()}
    assert out[100]["bucket"] == 3  # gibberish lands in the tail
    en = [r for r in out.values() if r["lang"] == "en"]
    de = [r for r in out.values() if r["lang"] == "de"]
    for grp, n in ((en, 10), (de, 3)):
        sizes = [sum(1 for r in grp if r["bucket"] == b) for b in (1, 2, 3)]
        assert sum(sizes) == n
        assert max(sizes) - min(sizes) <= 1  # ntile evenness
    # gibberish surprisal strictly above every common-word doc
    assert out[100]["surprisal"] > max(
        r["surprisal"] for r in en if r["doc_id"] != 100
    )


def test_ccnet_buckets_empty_input(spark):
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.textstats import (
        unigram_surprisal_buckets,
    )

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string"
    ).where(F.lit(False))
    assert unigram_surprisal_buckets(docs).count() == 0


def test_bigram_lm_fits_train_better_than_heldout(spark, sf_dir):
    """The trained LM must assign lower mean surprisal to its own
    training split than to docs it never saw — the signal the
    KenLM-filter stage relies on.  Also: every multi-word doc scored,
    ticks positive, single-word docs excluded."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.textstats import bigram_lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bigram_lm_score(docs)
    agg = {
        r["split"]: r["m"]
        for r in out.groupBy("split")
        .agg(F.avg("lm_surprisal").alias("m"))
        .collect()
    }
    held = [v for k, v in agg.items() if k != "train"]
    assert held and all(agg["train"] < v for v in held), agg
    rows = out.collect()
    assert all(r["lm_surprisal"] > 0 for r in rows)
    n_multiword = docs.filter(
        F.size(F.split(F.trim("text"), r"\s+")) >= 2
    ).count()
    assert len(rows) == n_multiword


def test_c4_line_filter_rules_pinned(spark):
    """Each C4 rule exercised: terminal punctuation, min words,
    code-ish '{' and 'javascript' drops, <3-kept-lines doc drop,
    lorem-ipsum doc drop; clean_text re-joins survivors."""
    from gclog_parser_spark.operators.textstats import c4_line_filter

    good = "this is a perfectly fine sentence."
    docs = _docs(
        spark,
        [
            (1, "\n".join([good, "short one.", good,
                           "no terminal punctuation here at all",
                           'a quoted ending with five words."', good])),
            (2, "\n".join([good, "enable javascript to view this.",
                           "function() { return 1; }", good, good])),
            (3, "\n".join([good, good, "only two good lines here"])),
            (4, "\n".join([good, good, good,
                           "Lorem Ipsum dolor sit amet."])),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in c4_line_filter(docs).collect()
    }
    d1 = out[1]
    assert d1["n_lines"] == 6
    assert d1["n_kept"] == 4  # 3x good + the quoted line
    assert d1["kept"]
    d2 = out[2]
    assert d2["n_kept"] == 3 and d2["kept"]
    d3 = out[3]
    assert d3["n_kept"] == 2 and not d3["kept"]
    d4 = out[4]
    assert d4["n_kept"] == 4 and not d4["kept"]  # lorem ipsum


def test_c4_line_filter_plan_zero_exchange(spark):
    from gclog_parser_spark.operators.textstats import c4_line_filter
    from gclog_parser_spark.plans.lint import plan_string

    docs = _docs(spark, [(1, "a line."), (2, "b line.")])
    plan = plan_string(c4_line_filter(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_encoding_stats_pinned_and_cross_engine(spark):
    """Crafted docs with real U+FFFD / C0 controls / Latin-1
    double-encoding: pinned counts, integer bad-flag arithmetic, and
    a direct DuckDB re-derivation over the same rows (character, not
    byte, semantics on both engines)."""
    import duckdb

    from gclog_parser_spark.operators.textstats import encoding_stats
    from gclog_parser_spark.oracle_text import encoding_stats_sql

    rows = [
        (1, "clean ascii text here"),
        (2, "bad � byte � pair"),
        (3, "ctl\x01\x02\x03 but long enough " + "x" * 3000),
        (4, "mojibake cafÃ© naÃ¯ve blÃ©"),
        (5, "tab\tand\nnewline are fine."),
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r for r in encoding_stats(docs).collect()}
    assert got[1]["bad"] is False and got[1]["n_replacement"] == 0
    assert got[2]["n_replacement"] == 2 and got[2]["bad"]
    assert got[3]["n_control"] == 3
    assert not got[3]["bad"]  # 3 controls in >3000 chars: under 0.1 %
    assert got[4]["n_mojibake_sig"] == 3 and got[4]["bad"]
    assert got[5]["n_control"] == 0 and got[5]["bad"] is False

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", [(i, t) for i, t in rows]
    )
    want = {
        r[0]: r
        for r in con.execute(encoding_stats_sql()).fetchall()
    }
    for i, _ in rows:
        g = got[i]
        assert (
            g["n_chars"], g["n_replacement"], g["n_control"],
            g["n_mojibake_sig"], g["bad"],
        ) == tuple(want[i][1:])


def test_lang_agreement_matrix_pinned(spark):
    """Crafted docs: en markers declared en (agree), en markers
    declared fr (disagree), no markers → 'und'; row shares sum to 1
    per declared language."""
    from gclog_parser_spark.operators.textstats import lang_agreement

    en = "the and is of to in that it with the"
    docs = spark.createDataFrame(
        [
            (1, en, "en", "s", 10),
            (2, en, "en", "s", 10),
            (3, en, "fr", "s", 10),
            (4, "zzz qqq xxx", "en", "s", 3),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = lang_agreement(docs).collect()
    got = {(r["declared_lang"], r["pred_lang"]): r for r in rows}
    assert got[("en", "en")]["n_docs"] == 2
    assert got[("en", "en")]["agree"] is True
    assert got[("fr", "en")]["agree"] is False
    assert got[("en", "und")]["n_docs"] == 1
    import collections

    shares = collections.defaultdict(float)
    for r in rows:
        shares[r["declared_lang"]] += r["row_share"]
    for v in shares.values():
        assert abs(v - 1.0) < 1e-6


def test_ngram_diversity_templates_vs_prose(spark):
    """A source of identical template docs scores far lower diversity
    than distinct prose; counts are exact."""
    from gclog_parser_spark.operators.textstats import ngram_diversity

    tmpl = "buy cheap widgets online today"
    docs = spark.createDataFrame(
        [(i, tmpl, "en", "farm", 30) for i in range(10)]
        + [
            (100, "alpha beta gamma delta", "en", "prose", 22),
            (101, "epsilon zeta eta theta", "en", "prose", 22),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {r["source"]: r for r in ngram_diversity(docs, k=2).collect()}
    farm = got["farm"]
    assert farm["n_grams"] == 40 and farm["n_distinct"] == 4
    assert farm["diversity"] == 0.1
    prose = got["prose"]
    assert prose["n_grams"] == 6 and prose["n_distinct"] == 6
    assert prose["diversity"] == 1.0


def test_readability_matches_python_reimpl(spark):
    import re
    from decimal import Decimal, ROUND_HALF_UP

    from gclog_parser_spark.operators.textstats import readability

    def _r6(x):
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP))

    def _py(text):
        w = len(re.findall(r"\S+", text))
        s = max(len(re.findall(r"[.!?]+", text)), 1)
        y = len(re.findall(r"[aeiouy]+", text.lower()))
        if w == 0:
            return (w, s, y, None, None, None)
        ease = _r6(206.835 - 1.015 * (w / s) - 84.6 * (y / w))
        grade = _r6(0.39 * (w / s) + 11.8 * (y / w) - 15.59)
        band = ("very_easy" if ease >= 90 else "easy" if ease >= 70
                else "standard" if ease >= 50 else "difficult"
                if ease >= 30 else "very_difficult")
        return (w, s, y, ease, grade, band)

    texts = [
        "The cat sat. The dog ran! Did it rain?",
        "Incomprehensibility characterizes interdisciplinary "
        "epistemological argumentation; nevertheless, "
        "multisyllabic terminology proliferates.",
        "headline with no terminator at all",
        "One two three four five. Six seven eight.",
        "a. e! i? o. u!",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {r["doc_id"]: r for r in readability(docs).collect()}
    for i, t in enumerate(texts):
        w, s, y, ease, grade, band = _py(t)
        r = got[i]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (w, s, y)
        assert r["reading_ease"] == ease
        assert r["fk_grade"] == grade
        assert r["band"] == band


def test_readability_wordless_is_null_not_crash(spark):
    from gclog_parser_spark.operators.textstats import readability

    docs = spark.createDataFrame(
        [(0, "", "en", "s", 0), (1, "   ", "en", "s", 3),
         (2, "...", "en", "s", 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in readability(docs).collect()}
    for i in (0, 1):
        assert rows[i]["n_words"] == 0
        assert rows[i]["reading_ease"] is None
        assert rows[i]["fk_grade"] is None
        assert rows[i]["band"] is None
    # "..." is one word (a \S+ run) with zero syllables: scores defined
    assert rows[2]["n_words"] == 1 and rows[2]["n_syllables"] == 0
    assert rows[2]["band"] is not None


def test_cooccur_pairs_support_prune_and_lift(spark):
    from gclog_parser_spark.operators.textstats import cooccur_pairs

    # 11 docs; "a b" co-occur in 6, "a c" in 5, "b c" in 3, "rare"
    # appears once — with min_support=5: rare is Apriori-pruned before
    # the pair join, (a,c) survives at exactly 5, (b,c) falls short,
    # and no pair ever repeats within a doc (distinct)
    texts = (["a b b a"] + ["a b"] * 3 + ["a b c"] * 2 + ["a c rare"]
             + ["a c"] * 2 + ["b c", "b"])
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        (r["w1"], r["w2"]): r
        for r in cooccur_pairs(docs).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c")}
    ab = got[("a", "b")]
    # df(a)=9, df(b)=8, n_pair=6, N=11 -> lift = 6*11/72
    assert (ab["n_pair"], ab["df1"], ab["df2"]) == (6, 9, 8)
    assert ab["lift"] == 0.916667
    ac = got[("a", "c")]
    # df(c)=6, n_pair=5 -> lift = 5*11/54
    assert (ac["n_pair"], ac["df1"], ac["df2"]) == (5, 9, 6)
    assert ac["lift"] == 1.018519


def test_effective_tokens_claws_back_duplicates(spark):
    from gclog_parser_spark.operators.textstats import effective_tokens

    t = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (0, t, "en", "farm", len(t)),       # keeper (min doc_id)
            (1, t, "en", "farm", len(t)),       # dropped dup
            (2, t, "en", "farm", len(t)),       # dropped dup
            (3, "unique words only", "en", "clean", 17),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {r["source"]: r for r in effective_tokens(docs).collect()}
    farm = got["farm"]
    assert (farm["docs"], farm["docs_dropped"]) == (3, 2)
    assert farm["tokens_raw"] == 24 and farm["tokens_kept"] == 8
    assert farm["dup_token_share"] == round(1 - 8 / 24, 6)
    clean = got["clean"]
    assert clean["docs_dropped"] == 0
    assert clean["dup_token_share"] == 0.0
