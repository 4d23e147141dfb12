"""DuckDB oracle SQL for the training-data operators (dedup, text
analysis, similarity, multimodal) — independent SQL re-implementations
of gclog_parser_spark/operators/{dedup,textstats,similarity,multimodal}.

Hash portability: both engines compute md5 over utf-8 bytes; the 60-bit
integer hash is the first 15 hex chars (Spark ``conv(...,16,10)``,
DuckDB ``CAST('0x'||... AS BIGINT)``).  Dot products are cast to
DOUBLE[] on both sides so accumulation is bit-identical.
"""

from __future__ import annotations

from gclog_parser_spark.operators.dedup import (
    BANDS,
    NUM_HASHES,
    SHINGLE_K,
)
from gclog_parser_spark.operators.similarity import plane_components
from gclog_parser_spark.operators.textstats import (
    LANG_MARKERS,
    STOPWORDS,
    TOKEN_RE,
)
from gclog_parser_spark.oracle import PAGES_CTE, fixtures_values


def _hex60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


SHINGLES_CTE = f"""words AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, source,
    list_transform(
      generate_series(1, greatest(len(w) - {SHINGLE_K - 1}, 0)),
      i -> array_to_string(list_slice(w, i, i + {SHINGLE_K - 1}), ' ')
    ) AS shingles
  FROM words
)"""


def dedup_exact_sql() -> str:
    return (
        "SELECT md5(text) AS text_hash, count(*) AS n_docs,"
        " min(doc_id) AS keeper_doc_id FROM documents GROUP BY 1"
    )


def _minhash_ctes() -> str:
    """The shingles→signatures→bands CTE chain, reusable by both the
    pair query and the connected-components cluster oracle.

    Hash family mirrors dedup.minhash_signatures: hash j is the
    32-bit lane ``substr(md5(block), (j%4)*8+1, 8)`` of digest block
    ``j//4`` (block 0 = md5(s), block b = md5('b:'||s)) — four lanes
    per md5, the optimization that halves hashing cost Spark-side."""
    rows = NUM_HASHES // BANDS
    lane = (
        "CAST('0x' || substr(md5(CASE WHEN j // 4 = 0 THEN s"
        " ELSE CAST(j // 4 AS VARCHAR) || ':' || s END),"
        " (j % 4) * 8 + 1, 8) AS BIGINT)"
    )
    return f"""{SHINGLES_CTE},
sig AS (
  SELECT doc_id,
    list_transform(generate_series(0, {NUM_HASHES - 1}), j ->
      list_min(list_transform(shingles, s ->
        {lane}))) AS sig
  FROM sh
),
banded AS (
  SELECT doc_id, CAST(b AS INT) AS band_idx,
    array_to_string(
      list_transform(generate_series(1, {rows}),
        r -> CAST(sig[b * {rows} + r] AS VARCHAR)), '_') AS band_key
  FROM sig, unnest(generate_series(0, {BANDS - 1})) AS t(b)
  WHERE sig[1] IS NOT NULL
)"""


_MINHASH_PAIRS_SELECT = """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band_idx
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id"""


def dedup_minhash_sql() -> str:
    return f"WITH {_minhash_ctes()}\n{_MINHASH_PAIRS_SELECT}"


def minhash_verified_sql(threshold: float = 0.5) -> str:
    """Verify-stage oracle: distinct candidate pairs joined back to
    both signatures; estimated Jaccard = agreeing positions / hashes."""
    return f"""WITH {_minhash_ctes()},
pairs AS (SELECT DISTINCT doc_a, doc_b FROM ({_MINHASH_PAIRS_SELECT})),
est AS (
  SELECT p.doc_a, p.doc_b,
    round(len(list_filter(generate_series(1, {NUM_HASHES}),
      i -> sa.sig[i] = sb.sig[i])) / {NUM_HASHES}.0, 6) AS est_jaccard
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
)
SELECT * FROM est WHERE est_jaccard >= {threshold}"""


def dedup_clusters_sql() -> str:
    """Cluster oracle: min label reachable over the candidate-pair graph
    via a recursive CTE (the from-first-principles transitive closure —
    independent of the Spark side's alternating-star algorithm), then a
    left join back to all documents for the singleton clusters."""
    return f"""WITH RECURSIVE {_minhash_ctes()},
pairs AS ({_MINHASH_PAIRS_SELECT}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id,
  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
  (coalesce(c.cluster_id, d.doc_id) = d.doc_id) AS is_keeper
FROM documents d LEFT JOIN comp c USING (doc_id)"""


def dedup_survivors_sql() -> str:
    """Oracle twin of ``dedup_survivors``: the recursive-CTE closure
    of ``dedup_clusters_sql`` plus the ``text_quality_sql`` score,
    survivor = row_number 1 per cluster by (score DESC, doc_id)."""
    return f"""WITH RECURSIVE {_minhash_ctes()},
pairs AS ({_MINHASH_PAIRS_SELECT}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
cl AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
q AS ({text_quality_sql()}),
scored AS (
  SELECT cl.cluster_id, cl.doc_id, q.quality_score,
    row_number() OVER (
      PARTITION BY cl.cluster_id
      ORDER BY q.quality_score DESC, cl.doc_id
    ) AS rk,
    count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM cl JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS survivor_id,
  CAST(n_members AS BIGINT) AS n_members,
  quality_score AS best_score
FROM scored WHERE rk = 1"""


def dedup_simhash_sql(bits: int = 16) -> str:
    bit_sum = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits)
    )
    return f"""WITH flat AS (
  SELECT doc_id, {_hex60("word")} AS h FROM (
    SELECT doc_id,
      unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents)
),
agg AS (SELECT doc_id, {bit_sum} FROM flat GROUP BY doc_id)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM agg"""


def dedup_jaccard_sql(threshold: float = 0.5, max_df: int = 256) -> str:
    return f"""WITH {SHINGLES_CTE},
postings_all AS (
  SELECT DISTINCT doc_id, source AS bucket, unnest(shingles) AS shingle
  FROM sh
),
rare AS (
  SELECT shingle FROM postings_all GROUP BY shingle
  HAVING count(*) <= {max_df}
),
postings AS (
  SELECT p.* FROM postings_all p JOIN rare USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM postings GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM postings a JOIN postings b
    ON a.shingle = b.shingle AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / (sa.n + sb.n - i), 6) >= {threshold}"""


def prefix_jaccard_sql(num: int = 1, den: int = 2) -> str:
    """Oracle twin of ``prefix_jaccard_pairs``: same global (df,
    shingle) canonical order, same integer prefix length
    ``n - ceil(num·n/den) + 1`` (ceil as ``floor((num·n+den-1)/den)``),
    same integer length filter and keep test."""
    return f"""WITH {SHINGLES_CTE},
toks AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh
),
dfreq AS (SELECT shingle, count(*) AS df FROM toks GROUP BY shingle),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, t.shingle, z.n,
         row_number() OVER (
           PARTITION BY t.doc_id ORDER BY d.df, t.shingle
         ) AS pos
  FROM toks t JOIN dfreq d USING (shingle) JOIN sizes z USING (doc_id)
),
pref AS (
  SELECT doc_id, shingle, n FROM ranked
  WHERE pos <= n - floor(({num} * n + {den - 1}) / {den}) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle
   AND a.doc_id < b.doc_id
  WHERE {den} * least(a.n, b.n) >= {num} * greatest(a.n, b.n)
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cands c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {den} * i >= {num} * (sa.n + sb.n - i)"""


def _count_re(expr: str, pattern: str) -> str:
    # DuckDB single-quoted strings are escape-free: pass regex
    # backslashes through verbatim
    p = pattern.replace("'", "''")
    return f"len(regexp_extract_all({expr}, '{p}'))"


def _marker(expr: str, words) -> str:
    return _count_re(f"lower({expr})", r"\b(" + "|".join(words) + r")\b")


def text_quality_sql() -> str:
    n_tokens = _count_re("text", TOKEN_RE)
    n_words = _count_re("text", "[A-Za-z]+")
    n_letters = _count_re("text", "[A-Za-z]")
    n_punct = _count_re("text", r"[^A-Za-z0-9\s]")
    n_stop = _marker("text", STOPWORDS)
    return f"""SELECT doc_id,
  length(text) AS n_chars,
  {n_tokens} AS n_tokens,
  {n_words} AS n_words,
  round({n_letters} / greatest({n_words}, 1), 6) AS mean_word_len,
  round({n_stop} / greatest({n_words}, 1), 6) AS stopword_ratio,
  round({n_punct} / greatest({n_tokens}, 1), 6) AS punct_ratio,
  round(
    round({n_stop} / greatest({n_words}, 1), 6) * 0.5
    + least(round({n_letters} / greatest({n_words}, 1), 6) / 8, 1.0) * 0.3
    + (1 - round({n_punct} / greatest({n_tokens}, 1), 6)) * 0.2,
  6) AS quality_score
FROM documents"""


def _bucket_sql(key: str, salt: str) -> str:
    h = _hex60(f"'{salt}:' || CAST({key} AS VARCHAR)")
    return f"({h} % 1000000)"


def hash_split_sql(
    weights=None, key: str = "doc_id", salt: str = "split"
) -> str:
    from gclog_parser_spark.operators.sampling import BUCKETS

    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    names = list(weights)
    cum = 0.0
    cases = []
    for name in names[:-1]:
        cum += weights[name] / total
        cases.append(f"WHEN b < {int(round(cum * BUCKETS))} THEN '{name}'")
    case = (
        "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    )
    return f"""WITH b AS (
  SELECT doc_id, lang, source, {_bucket_sql(key, salt)} AS b
  FROM documents
)
SELECT doc_id, lang, source, {case} AS split FROM b"""


def stratified_sample_sql(
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 0.0,
    key: str = "doc_id",
    salt: str = "sample",
) -> str:
    from gclog_parser_spark.operators.sampling import BUCKETS

    cases = " ".join(
        f"WHEN {strata_col} = '{v}' THEN {int(round(r * BUCKETS))}"
        for v, r in sorted(rates.items())
    )
    thr = f"CASE {cases} ELSE {int(round(default_rate * BUCKETS))} END"
    return f"""SELECT doc_id, lang, source FROM documents
WHERE {_bucket_sql(key, salt)} < {thr}"""


def shard_by_tokens_sql(
    tokens_per_shard: int = 4096,
    n_groups: int = 8,
    key: str = "doc_id",
    salt: str = "shard",
) -> str:
    from gclog_parser_spark.operators.textstats import TOKEN_RE

    b = _bucket_sql(key, salt)
    toks = _count_re("text", TOKEN_RE)
    return f"""WITH base AS (
  SELECT {key},
    CAST({b} % {n_groups} AS INT) AS shard_group,
    {b} AS order_key,
    CAST({toks} AS BIGINT) AS doc_tokens
  FROM documents
)
SELECT {key}, shard_group, doc_tokens,
  CAST(floor((sum(doc_tokens) OVER (
      PARTITION BY shard_group ORDER BY order_key, {key}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    - doc_tokens) / {tokens_per_shard}) AS INT) AS shard_idx
FROM base"""


def corpus_filter_sql(**overrides) -> str:
    from gclog_parser_spark.operators.textstats import FILTER_DEFAULTS

    p = {**FILTER_DEFAULTS, **overrides}
    reason = f"""CASE
    WHEN n_chars < {p["min_chars"]} THEN 'too_short'
    WHEN n_chars > {p["max_chars"]} THEN 'too_long'
    WHEN mean_word_len < {p["min_mean_word_len"]} THEN 'word_len_low'
    WHEN mean_word_len > {p["max_mean_word_len"]} THEN 'word_len_high'
    WHEN stopword_ratio < {p["min_stopword_ratio"]} THEN 'low_stopwords'
    WHEN punct_ratio > {p["max_punct_ratio"]} THEN 'high_punct'
  END"""
    return f"""WITH q AS ({text_quality_sql()})
SELECT doc_id, {reason} AS reject_reason,
  ({reason} IS NULL) AS keep
FROM q"""


def repetition_stats_sql() -> str:
    return """WITH base AS (
  SELECT doc_id,
    len(string_split(text, chr(10))) AS n_lines,
    len(list_distinct(string_split(text, chr(10)))) AS n_distinct,
    string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, len(w) AS n_words,
    unnest(list_transform(
      generate_series(1, greatest(len(w) - 1, 0)),
      i -> w[i] || ' ' || w[i + 1])) AS b
  FROM base
),
freq AS (
  SELECT doc_id, n_words, b, count(*) AS c
  FROM bg GROUP BY 1, 2, 3
),
top AS (
  SELECT doc_id,
    round(max(c) / greatest(n_words - 1, 1), 6) AS top_bigram_ratio
  FROM freq GROUP BY doc_id, n_words
)
SELECT base.doc_id, n_lines,
  round((n_lines - n_distinct) / greatest(n_lines, 1), 6)
    AS dup_line_ratio,
  coalesce(top.top_bigram_ratio, 0.0) AS top_bigram_ratio
FROM base LEFT JOIN top USING (doc_id)"""


def strip_boilerplate_sql(max_df: int = 10) -> str:
    return f"""WITH lines AS (
  SELECT doc_id,
    generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
    unnest(string_split(text, chr(10))) AS line
  FROM documents
),
hot AS (
  SELECT line FROM lines
  GROUP BY line HAVING count(DISTINCT doc_id) > {max_df}
),
marked AS (
  SELECT l.doc_id, l.pos, l.line, h.line IS NOT NULL AS is_hot
  FROM lines l LEFT JOIN hot h ON h.line = l.line
)
SELECT doc_id,
  count(*) AS n_lines,
  CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  md5(coalesce(
    string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_hot),
    '')) AS cleaned_hash
FROM marked GROUP BY doc_id"""


def scrub_pii_sql() -> str:
    from gclog_parser_spark.operators.textstats import PII_PATTERNS

    # counts run on the progressively-scrubbed text, mirroring
    # operators/textstats.scrub_pii's chain exactly
    parts = []
    scrub = "text"
    for name, pat, repl in PII_PATTERNS:
        parts.append(f"{_count_re(scrub, pat)} AS n_{name}")
        p = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{p}', '{repl}', 'g')"
    counts = ", ".join(parts)
    return (
        f"SELECT doc_id, {counts}, md5({scrub}) AS scrubbed_hash"
        f" FROM documents"
    )


def lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{_marker('text', LANG_MARKERS[lg])} AS s_{lg}" for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred = "'und'"
    for lg in reversed(langs):
        pred = (
            f"CASE WHEN s_{lg} = {best} AND {best} > 0 "
            f"THEN '{lg}' ELSE {pred} END"
        )
    return f"""WITH scored AS (
  SELECT doc_id, lang, {scores} FROM documents
)
SELECT doc_id, lang AS declared_lang, {pred} AS pred_lang,
  CAST({best} AS BIGINT) AS marker_hits
FROM scored"""


def token_counts_sql() -> str:
    t = _count_re("text", TOKEN_RE)
    return (
        f"SELECT source, count(*) AS docs,"
        f" CAST(sum({t}) AS BIGINT) AS tokens,"
        f" CAST(max({t}) AS BIGINT) AS max_doc_tokens"
        f" FROM documents GROUP BY 1"
    )


def doc_fingerprint_sql(k: int = 4) -> str:
    return f"""WITH {SHINGLES_CTE},
hashes AS (
  SELECT doc_id,
    list_sort(list_transform(list_distinct(shingles),
      s -> {_hex60("s")})) AS hs
  FROM sh
)
SELECT doc_id,
  array_to_string(list_transform(list_slice(hs, 1, {k}),
    h -> CAST(h AS VARCHAR)), '_') AS fingerprint
FROM hashes"""


def _cos_guarded(a: str, b: str) -> str:
    """Cosine with the same zero-norm guard as the Spark side
    (similarity._cos_sim): NULL sim when either norm is 0, which sorts
    last under ORDER BY sim DESC in both engines."""
    denom = (
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
        f" * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )
    return (
        f"CASE WHEN {denom} <> 0 THEN"
        f" round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
        f" / {denom}, 6) END"
    )


_COS = _cos_guarded("e.embedding", "q.q")


def ann_cosine_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return f"""WITH q AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = {query_vec_id}
)
SELECT e.vec_id, {_COS} AS sim
FROM embeddings e, q
WHERE e.vec_id <> {query_vec_id}
ORDER BY sim DESC, e.vec_id ASC LIMIT {k}"""


def _planes_sql() -> str:
    comps = plane_components()
    return ", ".join(
        "(list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(str(c) for c in p)
        + "]::DOUBLE[]) >= 0)"
        for p in comps
    )


def ann_lsh_sql(query_vec_id: int = 0, k: int = 5) -> str:
    bits = _planes_sql().split(", (")
    bits = [b if b.startswith("(") else "(" + b for b in bits]
    bucket = " || ".join(
        f"(CASE WHEN {b} THEN '1' ELSE '0' END)" for b in bits
    )
    return f"""WITH buckets AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
q AS (
  SELECT bucket AS qbucket, embedding AS q FROM buckets
  WHERE vec_id = {query_vec_id}
)
SELECT e.vec_id, {_COS} AS sim
FROM buckets e, q
WHERE e.bucket = q.qbucket AND e.vec_id <> {query_vec_id}
ORDER BY sim DESC, e.vec_id ASC LIMIT {k}"""


def ann_ivf_sql(query_vec_id: int = 0, k: int = 5, n_probe: int = 2) -> str:
    """Independent IVF reimplementation: same deterministic centroid
    literals, cell = argmax dot (earliest cell wins ties), candidates =
    the query's top-n_probe cells, exact cosine within."""
    from gclog_parser_spark.operators.similarity import (
        centroid_components,
    )

    cents = centroid_components()
    dots = ", ".join(
        "list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(str(c) for c in cent)
        + "]::DOUBLE[]) AS s" + str(j)
        for j, cent in enumerate(cents)
    )
    n = len(cents)
    best = "greatest(" + ", ".join(f"s{j}" for j in range(n)) + ")"
    cell = f"CASE {' '.join(f'WHEN s{j} = {best} THEN {j}' for j in range(n))} END"
    return f"""WITH scored AS (
  SELECT vec_id, embedding, {dots} FROM embeddings
),
assigned AS (
  SELECT vec_id, embedding, {cell} AS cell FROM scored
),
qcells AS (
  SELECT cell FROM (
    SELECT unnest([{', '.join(f's{j}' for j in range(n))}]) AS s,
           unnest([{', '.join(str(j) for j in range(n))}]) AS cell
    FROM scored WHERE vec_id = {query_vec_id})
  ORDER BY s DESC, cell ASC LIMIT {n_probe}
),
q AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = {query_vec_id}
)
SELECT e.vec_id, {_COS} AS sim
FROM assigned e JOIN qcells USING (cell), q
WHERE e.vec_id <> {query_vec_id}
ORDER BY sim DESC, e.vec_id ASC LIMIT {k}"""


def ann_ivf_trained_sql(
    query_vec_id: int = 0,
    k: int = 5,
    n_probe: int = 2,
    iters: int = 2,
    seed: int = 7,
) -> str:
    """Independent re-derivation of the TRAINED IVF index
    (similarity.ivf_train + ivf_topk): the same Lloyd's iterations in
    pure SQL — init centroids as a VALUES table, then per iteration
    (argmax-dot assignment via row_number, member-mean centroids
    rounded to 6 dp, empty-cell fallback via LEFT JOIN coalesce) —
    followed by the probe-cell top-k.  Ties break to the lowest cell
    in both engines."""
    from gclog_parser_spark.operators.similarity import (
        centroid_components,
    )

    cents = centroid_components(seed=seed)
    n, dim = len(cents), len(cents[0])
    c0 = ", ".join(
        f"({c}, {p}, {cents[c][p]})"
        for c in range(n)
        for p in range(dim)
    )
    parts = [
        f"c0(cell, pos, val) AS (VALUES {c0})",
        "e AS (SELECT vec_id,"
        " generate_subscripts(embedding, 1) - 1 AS pos,"
        " unnest(embedding::DOUBLE[]) AS val FROM embeddings)",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts += [
            f"s{i} AS (SELECT e.vec_id, c.cell, sum(e.val * c.val) AS s"
            f" FROM e JOIN {prev} c USING (pos) GROUP BY 1, 2)",
            f"a{i} AS (SELECT vec_id, cell FROM ("
            f"SELECT vec_id, cell, row_number() OVER ("
            f"PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn"
            f" FROM s{i}) WHERE rn = 1)",
            f"m{i} AS (SELECT a.cell, e.pos,"
            f" sum(e.val) / count(*) AS mval"
            f" FROM a{i} a JOIN e USING (vec_id) GROUP BY 1, 2)",
            f"n{i} AS (SELECT cell, sqrt(sum(mval * mval)) AS nrm"
            f" FROM m{i} GROUP BY 1)",
            # spherical k-means: centroid = normalized member mean;
            # empty cells / zero-norm means keep the previous centroid
            f"c{i} AS (SELECT c.cell, c.pos, coalesce("
            f"CASE WHEN n.nrm <> 0 THEN round(m.mval / n.nrm, 6) END,"
            f" c.val) AS val"
            f" FROM {prev} c LEFT JOIN m{i} m"
            f" ON m.cell = c.cell AND m.pos = c.pos"
            f" LEFT JOIN n{i} n ON n.cell = c.cell)",
        ]
        prev = f"c{i}"
    parts += [
        f"sf AS (SELECT e.vec_id, c.cell, sum(e.val * c.val) AS s"
        f" FROM e JOIN {prev} c USING (pos) GROUP BY 1, 2)",
        "af AS (SELECT vec_id, cell FROM ("
        "SELECT vec_id, cell, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn"
        " FROM sf) WHERE rn = 1)",
        f"qcells AS (SELECT cell FROM sf WHERE vec_id = {query_vec_id}"
        f" ORDER BY s DESC, cell ASC LIMIT {n_probe})",
        f"q AS (SELECT embedding AS q FROM embeddings"
        f" WHERE vec_id = {query_vec_id})",
    ]
    cos = _cos_guarded("e2.embedding", "q.q")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT e2.vec_id, {cos} AS sim
FROM embeddings e2
JOIN af ON af.vec_id = e2.vec_id
JOIN qcells ON qcells.cell = af.cell, q
WHERE e2.vec_id <> {query_vec_id}
ORDER BY sim DESC, e2.vec_id ASC LIMIT {k}"""
    )


def emb_neardup_sql(threshold: float = 0.9) -> str:
    """LSH-bucket-blocked near-dup (same sign-bit planes as
    similarity.lsh_buckets / ann_lsh_sql)."""
    bits = _planes_sql().split(", (")
    bits = [b if b.startswith("(") else "(" + b for b in bits]
    bucket = " || ".join(
        f"(CASE WHEN {b} THEN '1' ELSE '0' END)" for b in bits
    )
    cos = _cos_guarded("a.embedding", "b.embedding")
    return f"""WITH blocked AS (
  SELECT vec_id, embedding, {bucket} AS block FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  {cos} AS sim
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.vec_id < b.vec_id
WHERE {cos} >= {threshold}"""


def stream_dedup_sql() -> str:
    """Oracle for the streaming exact-dedup gate query: the distinct
    content-hash set of the pages table (the re-crawled copies share
    the text bytes, so they add nothing to the set).  Rebuilds the page
    ``text`` column exactly as datagen._page_cols does."""
    text = (
        "d.text || chr(10) || '<pre class=\"gclog\">' || chr(10) || "
        "f.fixture_text || '</pre><!--gclog-->' || chr(10) || d.text"
    )
    return f"""WITH {fixtures_values()}
SELECT DISTINCT md5({text}) AS text_hash
FROM documents d
JOIN fixtures f ON f.class_id = CAST(d.doc_id % 10 AS INT)"""


_HTML_EXPR = (
    "'<html><body>' || d.text || chr(10) ||"
    " '<pre class=\"gclog\">' || chr(10) || f.fixture_text ||"
    " '</pre><!--gclog-->' || chr(10) || d.text || '</body></html>'"
)


def media_resize_sql(target_w: int = 16, target_h: int = 16) -> str:
    """Oracle for the fake-resize plumbing: digest of text + 'WxH'."""
    return f"""WITH {fixtures_values()},
{PAGES_CTE.replace("f.fixture_text AS gc_text", f"{_HTML_EXPR} AS html_text")}
SELECT url, 'text' AS kind,
  {target_w} AS target_w, {target_h} AS target_h,
  md5(html_text || '{target_w}x{target_h}') AS resized_digest
FROM pages"""


def media_frames_sql(every_n: int = 2, frame_chars: int = 4096) -> str:
    """Oracle for the frame-sampling fan-out: one row per sampled
    ``frame_chars`` character window."""
    return f"""WITH {fixtures_values()},
{PAGES_CTE.replace("f.fixture_text AS gc_text", f"{_HTML_EXPR} AS html_text")},
framed AS (
  SELECT url, html_text,
    CAST(ceil(length(html_text) / {frame_chars}.0) AS INT) AS n_frames
  FROM pages
),
idx AS (
  SELECT url, html_text,
    unnest(generate_series(0, n_frames - 1)) AS i
  FROM framed
)
SELECT url, CAST(i AS INT) AS frame_idx,
  md5(substr(html_text, i * {frame_chars} + 1, {frame_chars}))
    AS frame_digest
FROM idx
WHERE i % {every_n} = 0"""


def media_meta_sql() -> str:
    """Rebuilds the page html text and verifies the mapInPandas media
    metadata (byte sizes, magic sniff, stub-decode dims, digest).
    The html corpus carries no stdlib-decodable payloads, so every row
    takes the stub lane (decoder='stub'); the REAL PNG/WAV decode lane
    is verified by ``media_decode_sql``/``media_meta_mixed_sql``."""
    html = _HTML_EXPR
    return f"""WITH {fixtures_values()},
{PAGES_CTE.replace("f.fixture_text AS gc_text", f"{html} AS html_text")}
SELECT url,
  CAST(octet_length(encode(html_text)) AS BIGINT) AS n_bytes,
  'html' AS magic, 'text' AS kind,
  CAST(16 + CAST('0x' || substr(md5(substr(html_text, 1, 64)), 1, 2)
    AS INT) % 64 AS INT) AS width,
  CAST(16 + CAST('0x' || substr(md5(substr(html_text, 1, 64)), 3, 2)
    AS INT) % 64 AS INT) AS height,
  md5(html_text) AS content_digest,
  'stub' AS decoder
FROM pages"""


# ---------------------------------------------------------------------------
# real media decode (datagen.media_pages corpus) — the oracle recomputes
# every decoded value from the generator's closed form (it cannot run
# zlib), so a green row proves the WHOLE stdlib encode→decode round trip
# in operators/mediacodec.py against ground truth: dims and channels from
# IHDR/RIFF, zlib inflate + unfilter for the pixel bytes, PCM unpacking
# for the samples.
# ---------------------------------------------------------------------------

_MEDIA_IDS = "ids AS (SELECT doc_id AS d FROM documents)"

_MEDIA_PNG_DIMS = (
    "SELECT d, 4 + d % 13 AS w, 3 + d % 7 AS h,"
    " CASE WHEN d % 2 = 0 THEN 1 ELSE 3 END AS ch"
    " FROM ids WHERE d % 3 = 0"
)


def _media_url(ext: str) -> str:
    return f"'media://' || lpad(CAST(d AS VARCHAR), 8, '0') || '.{ext}'"


def _digest_expr(n_expr: str, value_expr: str) -> str:
    """md5 over ','-joined decimal values i = 0..n-1 (the cross-engine
    value-digest form of mediacodec.value_digest)."""
    return (
        f"md5(array_to_string(list_transform("
        f"generate_series(0, {n_expr} - 1),"
        f" i -> CAST({value_expr} AS VARCHAR)), ','))"
    )


def media_decode_sql() -> str:
    """Oracle twin of ``multimodal.decode_media_features`` over
    ``datagen.media_pages``: PNG pixel i = (d·31 + i) % 256, WAV
    sample i = (d·131 + i·7) % 65536 − 32768, html rows take the stub
    closed form."""
    png_digest = _digest_expr("w*h*ch", "(d*31 + i) % 256")
    wav_digest = _digest_expr(
        "16 + d % 50", "(d*131 + i*7) % 65536 - 32768")
    stub_text = "'<html><body>media doc ' || d || '</body></html>'"
    return f"""WITH {_MEDIA_IDS},
png AS ({_MEDIA_PNG_DIMS})
SELECT {_media_url('png')} AS url, 'png' AS codec,
  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(ch AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
  CAST(w*h*ch AS BIGINT) AS n_values, {png_digest} AS value_digest
FROM png
UNION ALL
SELECT {_media_url('wav')} AS url, 'wav' AS codec,
  CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
  CAST(1 AS INT) AS n_channels,
  CAST(8000 + (d % 4) * 4000 AS INT) AS sample_rate,
  CAST(16 + d % 50 AS BIGINT) AS n_values, {wav_digest} AS value_digest
FROM ids WHERE d % 3 = 1
UNION ALL
SELECT {_media_url('html')} AS url, 'stub' AS codec,
  CAST(16 + CAST('0x' || substr(md5(substr({stub_text}, 1, 64)), 1, 2)
    AS INT) % 64 AS INT) AS width,
  CAST(16 + CAST('0x' || substr(md5(substr({stub_text}, 1, 64)), 3, 2)
    AS INT) % 64 AS INT) AS height,
  CAST(NULL AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
  CAST(NULL AS BIGINT) AS n_values, CAST(NULL AS VARCHAR) AS value_digest
FROM ids WHERE d % 3 = 2"""


def media_meta_mixed_sql() -> str:
    """Oracle twin of ``extract_media_meta`` over the media corpus:
    REAL dims + decoded-value content digests for PNG/WAV (the
    round-4 ask: real dimensions through the SAME meta operator the
    stub used), stub lane for the html rows.  ``n_bytes`` is
    closed-form because the fixture PNGs use zlib level 0
    (``68 + h·(w·ch + 1)``) and WAV PCM16 mono is ``44 + 2·n``."""
    png_digest = _digest_expr("w*h*ch", "(d*31 + i) % 256")
    wav_digest = _digest_expr(
        "16 + d % 50", "(d*131 + i*7) % 65536 - 32768")
    stub_text = "'<html><body>media doc ' || d || '</body></html>'"
    return f"""WITH {_MEDIA_IDS},
png AS ({_MEDIA_PNG_DIMS})
SELECT {_media_url('png')} AS url,
  CAST(68 + h * (w * ch + 1) AS BIGINT) AS n_bytes,
  'png' AS magic, 'image' AS kind,
  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  {png_digest} AS content_digest, 'png' AS decoder
FROM png
UNION ALL
SELECT {_media_url('wav')} AS url,
  CAST(44 + 2 * (16 + d % 50) AS BIGINT) AS n_bytes,
  'riff' AS magic, 'audio' AS kind,
  CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
  {wav_digest} AS content_digest, 'wav' AS decoder
FROM ids WHERE d % 3 = 1
UNION ALL
SELECT {_media_url('html')} AS url,
  CAST(octet_length(encode({stub_text})) AS BIGINT) AS n_bytes,
  'html' AS magic, 'text' AS kind,
  CAST(16 + CAST('0x' || substr(md5(substr({stub_text}, 1, 64)), 1, 2)
    AS INT) % 64 AS INT) AS width,
  CAST(16 + CAST('0x' || substr(md5(substr({stub_text}, 1, 64)), 3, 2)
    AS INT) % 64 AS INT) AS height,
  md5({stub_text}) AS content_digest, 'stub' AS decoder
FROM ids WHERE d % 3 = 2"""


def media_resize_real_sql(target_w: int = 8, target_h: int = 6) -> str:
    """Oracle twin of ``multimodal.resize_media_real``: re-derives the
    nearest-neighbor source index per target position (PNG) and the
    waveform-sketch index (WAV) in pure integer SQL, then applies the
    generator's pixel/sample closed form — verifying REAL resampled
    values, not plumbing alone."""
    tw, th, L = target_w, target_h, target_w * target_h
    # target index i enumerates (ty, tx, c): i = (ty*tw + tx)*ch + c
    png_src_idx = (
        f"(((i // ch) // {tw}) * h // {th}) * w * ch"
        f" + (((i // ch) % {tw}) * w // {tw}) * ch + i % ch"
    )
    png_digest = _digest_expr(
        f"{L} * ch", f"(d*31 + ({png_src_idx})) % 256")
    wav_digest = _digest_expr(
        str(L), f"(d*131 + (i * (16 + d % 50) // {L}) * 7)"
                f" % 65536 - 32768")
    stub_text = "'<html><body>media doc ' || d || '</body></html>'"
    return f"""WITH {_MEDIA_IDS},
png AS ({_MEDIA_PNG_DIMS})
SELECT {_media_url('png')} AS url, 'png' AS decoder,
  {tw} AS target_w, {th} AS target_h, {png_digest} AS resized_digest
FROM png
UNION ALL
SELECT {_media_url('wav')} AS url, 'wav' AS decoder,
  {tw} AS target_w, {th} AS target_h, {wav_digest} AS resized_digest
FROM ids WHERE d % 3 = 1
UNION ALL
SELECT {_media_url('html')} AS url, 'stub' AS decoder,
  {tw} AS target_w, {th} AS target_h,
  md5({stub_text} || '{tw}x{th}') AS resized_digest
FROM ids WHERE d % 3 = 2"""


def decontam_sql(k: int = 5, min_hits: int = 3, modulus: int = 17) -> str:
    """Independent re-derivation of ``ngram_decontaminate``: DuckDB
    list shingles (vs Spark's transform/element_at), benchmark =
    ``doc_id % modulus = 0``, corpus = the rest."""
    return f"""WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(w) - {k - 1}, 0)),
    i -> array_to_string(list_slice(w, i, i + {k - 1}), ' ')
  )) AS shingles FROM words
),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
  WHERE doc_id % {modulus} = 0
),
corp AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
  WHERE doc_id % {modulus} <> 0
)
SELECT c.doc_id, count(*) AS n_hits, count(*) >= {min_hits} AS flagged
FROM corp c JOIN bench b USING (shingle)
GROUP BY 1"""


def corpus_ngrams_sql(k: int = 2, top: int = 50) -> str:
    """Independent DuckDB oracle for corpus_ngrams (list-comprehension
    n-grams over the same whitespace tokenization)."""
    joined = " || ' ' || ".join(f"w[i + {off}]" for off in range(k))
    return f"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
ng AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(w) - {k - 1}, 0)),
    i -> {joined})) AS ngram
  FROM w
)
SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS df
FROM ng GROUP BY 1
ORDER BY n DESC, ngram ASC LIMIT {top}"""


_SYNTH_URL = """
  ('http' || CASE WHEN doc_id % 7 = 0 THEN '' ELSE 's' END || '://'
   || CASE WHEN doc_id % 3 = 0 THEN 'www.'
           WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
   || source
   || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END
   || CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END
   || '/' || lang || '/p' || CAST(doc_id % 100 AS VARCHAR)
   || CASE WHEN doc_id % 4 = 0 THEN '/index.html' ELSE '' END
   || CASE WHEN doc_id % 6 = 0
           THEN '?ref=rss&id=' || CAST(doc_id AS VARCHAR) ELSE '' END)
"""


def url_facets_sql() -> str:
    """Independent oracle for webstats.url_facet_rollup: the Spark
    side splits URLs with Hive ``parse_url``; this side re-derives
    every facet with plain regexps over the identically-synthesized
    url string (webstats.synth_urls recipe)."""
    return f"""WITH u AS (
  SELECT doc_id, {_SYNTH_URL} AS url FROM documents
),
f AS (
  SELECT doc_id, url,
    regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host,
    starts_with(url, 'https://') AS is_https,
    NULLIF(regexp_extract(url, '^[a-z]+://[^/:?]+:([0-9]+)', 1), '')
      AS port,
    regexp_extract(url, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS path,
    contains(url, '?') AS has_query
  FROM u
)
SELECT regexp_extract(host, '\\.([a-z]+)$', 1) AS tld, is_https,
  count(*) AS n_docs,
  count(DISTINCT host) AS n_hosts,
  round(avg(len(list_filter(string_split(path, '/'), s -> s <> ''))),
        6) AS avg_depth,
  count(port) AS n_with_port,
  CAST(sum(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT)
    AS n_with_query
FROM f GROUP BY 1, 2"""


_QUANT_CTE = """qz AS (
  SELECT vec_id, label,
    list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)),
                   'max') AS scale,
    embedding
  FROM embeddings
),
qv AS (
  SELECT vec_id, label, scale,
    CASE WHEN scale = 0
      THEN list_transform(embedding, x -> 0.0::DOUBLE)
      ELSE list_transform(embedding,
             x -> round(x::DOUBLE * 127.0 / scale))
    END AS qvec,
    embedding
  FROM qz
)"""


def ann_quantized_sql(query_vec_id: int = 0, k: int = 10) -> str:
    """Oracle for similarity.quantized_topk: int8-quantize in SQL,
    integer dot products (exact in double), same zero-norm guard and
    (sim desc, vec_id asc) total order."""
    cos = _cos_guarded("e.qvec", "q.q")
    return f"""WITH {_QUANT_CTE},
q AS (SELECT qvec AS q FROM qv WHERE vec_id = {query_vec_id})
SELECT e.vec_id, {cos} AS sim
FROM qv e, q
WHERE e.vec_id <> {query_vec_id}
ORDER BY sim DESC, e.vec_id ASC LIMIT {k}"""


def quant_error_sql() -> str:
    """Oracle for similarity.quantization_error (per-label int8
    reconstruction audit)."""
    return f"""WITH {_QUANT_CTE},
err AS (
  SELECT label, scale,
    CASE WHEN scale = 0 THEN 0.0
      ELSE list_aggregate(
        list_transform(
          list_zip(qvec, embedding),
          p -> abs(p[1] * scale / 127.0 - p[2]::DOUBLE)),
        'max')
    END AS max_abs_err
  FROM qv
)
SELECT label, count(*) AS n_vecs,
  round(avg(max_abs_err), 6) AS mean_max_err,
  round(max(max_abs_err), 6) AS worst_err,
  round(max(CASE WHEN scale <> 0 THEN max_abs_err / scale END), 6)
    AS worst_rel_err
FROM err GROUP BY 1"""


def postings_sql() -> str:
    """Inverted-index postings twin: DuckDB's unnest +
    generate_subscripts zip per row, 0-based positions like
    posexplode."""
    return """
WITH w AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(text), '\\s+')) AS word,
    generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) - 1
      AS pos
  FROM documents
)
SELECT word, doc_id, count(*) AS tf,
  CAST(min(pos) AS INT) AS first_pos
FROM w GROUP BY 1, 2
"""


def bm25_sql(terms: list[str], k: int = 10) -> str:
    """BM25 twin — the EXACT same double-precision expression tree as
    `textstats.bm25_topk` (rational idf, k1=1.2 b=0.75 literals, same
    association order), ranked by (rounded score DESC, doc_id)."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH w AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
tf AS (
  SELECT word, doc_id, count(*) AS tf FROM w
  WHERE word IN ({tl}) GROUP BY 1, 2
),
dl AS (
  SELECT doc_id,
    len(string_split_regex(trim(text), '\\s+')) AS dl
  FROM documents
),
consts AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         CAST((SELECT sum(dl) FROM dl) AS DOUBLE) AS lsum
),
dfreq AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT t.word, t.doc_id,
    round(
      ((c.n - f.df + 0.5) / (f.df + 0.5))
      * (t.tf * 2.2)
      / (t.tf + 1.2 * (0.25 + 0.75 * d.dl * c.n / c.lsum)),
      6) AS score
  FROM tf t JOIN dfreq f USING (word)
  JOIN dl d USING (doc_id) CROSS JOIN consts c
)
SELECT word, doc_id, score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY word ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def emb_clusters_sql(threshold: float = 0.9) -> str:
    """Embedding-cluster oracle: transitive closure of the near-dup
    pair graph via a recursive CTE (vs the Spark side's
    alternating-star), singletons joined back from all embeddings."""
    pairs = emb_neardup_sql(threshold)
    return f"""WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY u)
SELECT m.vec_id,
  coalesce(c.cluster_id, m.vec_id) AS cluster_id,
  (coalesce(c.cluster_id, m.vec_id) = m.vec_id) AS is_keeper
FROM embeddings m LEFT JOIN comp c USING (vec_id)"""


def sql_str_expr(s: str) -> str:
    """Render a Python string as a DuckDB expression, escaping every
    non-printable / non-ASCII codepoint through ``chr()`` so the SQL
    text stays 7-bit clean and the codepoints are provably identical to
    the Spark literal."""
    parts, buf = [], []

    def flush():
        if buf:
            parts.append("'" + "".join(buf).replace("'", "''") + "'")
            buf.clear()

    for ch in s:
        if 0x20 <= ord(ch) < 0x7F:
            buf.append(ch)
        else:
            flush()
            parts.append(f"chr({ord(ch)})")
    flush()
    return " || ".join(parts) if parts else "''"


def line_dedup_sql(
    lined: str = "SELECT doc_id, text FROM documents",
) -> str:
    """Corpus-wide first-occurrence line-dedup oracle.  Independent
    algorithm from the Spark operator: row_number() over each line's
    occurrences ordered by (doc_id, pos) — the skew-prone window plan
    Spark avoids with min(struct) — keep rn = 1."""
    return f"""WITH lined AS ({lined}),
lines AS (
  SELECT doc_id,
    generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
    unnest(string_split(text, chr(10))) AS line
  FROM lined
),
ranked AS (
  SELECT doc_id, pos, line,
    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lines
)
SELECT doc_id,
  count(*) AS n_lines,
  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
  md5(coalesce(
    string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE rn = 1),
    '')) AS kept_hash
FROM ranked GROUP BY doc_id"""


def normalize_text_sql(
    source: str = "SELECT doc_id, text FROM documents",
) -> str:
    """NFC + control-strip + whitespace-collapse oracle.  DuckDB's
    ``nfc_normalize`` is utf8proc — an NFC implementation independent
    of CPython's ``unicodedata`` — so composition itself is
    cross-checked, not just the regex strips."""
    from gclog_parser_spark.operators.textstats import (
        CONTROL_RE,
        SPACE_RE,
    )

    # CONTROL_RE's \xNN escapes are literal backslash sequences RE2
    # reads natively; SPACE_RE holds raw TAB/CR/NBSP/ZWSP codepoints
    # that sql_str_expr rewrites as chr() so the SQL stays 7-bit clean
    control = CONTROL_RE
    space = sql_str_expr(SPACE_RE)
    cleaned = (
        "trim(regexp_replace(regexp_replace(nfc_normalize(text),"
        f" '{control}', '', 'g'), {space}, ' ', 'g'))"
    )
    return f"""WITH src AS ({source}),
norm AS (SELECT doc_id, text, {cleaned} AS cleaned FROM src)
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars_raw,
  CAST(length(cleaned) AS INTEGER) AS n_chars_norm,
  cleaned <> text AS changed,
  md5(cleaned) AS norm_hash
FROM norm"""


def url_blocklist_sql(rules: list[str]) -> str:
    """Blocklist oracle — independent algorithm: direct
    ``host = rule OR ends_with(host, '.' || rule)`` predicate join
    (the O(rows·rules) form that is fine at oracle scale), vs Spark's
    suffix-explode equi-join.  Longest matching rule wins; distinct
    same-length matches are impossible (a host's dot-suffixes have
    strictly decreasing lengths)."""
    vals = ", ".join(
        "('" + r.replace("'", "''") + "')" for r in sorted(set(rules))
    )
    return f"""WITH u AS (
  SELECT doc_id, {_SYNTH_URL} AS url FROM documents
),
h AS (
  SELECT doc_id,
    regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host
  FROM u
),
rules(rule) AS (VALUES {vals}),
hit AS (
  SELECT doc_id, max_by(rule, length(rule)) AS matched_rule
  FROM h JOIN rules r
    ON h.host = r.rule OR ends_with(h.host, '.' || r.rule)
  GROUP BY doc_id
)
SELECT h.doc_id, h.host,
  hit.matched_rule IS NOT NULL AS blocked,
  hit.matched_rule
FROM h LEFT JOIN hit USING (doc_id)"""


def simhash_pairs_sql(max_hamming: int = 3, bits: int = 32) -> str:
    """SimHash near-dup pair oracle — deliberately the O(n²) all-pairs
    plan (fine at oracle scale): popcount of the XOR over every doc
    pair, vs Spark's pigeonhole band join."""
    ham = "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)"
    return f"""WITH s AS ({dedup_simhash_sql(bits=bits)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {ham} AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}"""


def ann_recall_sql(query_ids: list[int], k: int = 10) -> str:
    """Recall@k oracle for BOTH approximate paths (single-bucket LSH
    and int8-quantized scan) vs exact fp32 cosine — the same
    comparison derived independently with window ranks over DuckDB's
    list_dot_product; one row per (method, probe query)."""
    ids = ", ".join(str(i) for i in query_ids)
    bits = _planes_sql().split(", (")
    bits = [b if b.startswith("(") else "(" + b for b in bits]
    bucket = " || ".join(
        f"(CASE WHEN {b} THEN '1' ELSE '0' END)" for b in bits
    )
    qcos = _cos_guarded("e.qvec", "q.q")

    def _recall_block(method: str, ak: str) -> str:
        return f"""SELECT '{method}' AS method, g.query_id, g.n_exact,
  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
  round(coalesce(h.n_hit, 0) / {k}.0, 6) AS recall
FROM (SELECT query_id, count(*) AS n_exact FROM ek GROUP BY 1) g
LEFT JOIN (
  SELECT a.query_id, count(*) AS n_hit
  FROM {ak} a JOIN ek USING (query_id, vec_id) GROUP BY 1
) h USING (query_id)"""

    return f"""WITH {_QUANT_CTE},
buckets AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, bucket AS qbucket, embedding AS q
  FROM buckets WHERE vec_id IN ({ids})
),
qq AS (
  SELECT vec_id AS query_id, qvec AS q
  FROM qv WHERE vec_id IN ({ids})
),
exact AS (
  SELECT q.query_id, e.vec_id,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY {_COS} DESC, e.vec_id ASC) AS rn
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ek AS (SELECT query_id, vec_id FROM exact WHERE rn <= {k}),
lsh_cand AS (
  SELECT q.query_id, e.vec_id,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY {_COS} DESC, e.vec_id ASC) AS rn
  FROM buckets e, q
  WHERE e.bucket = q.qbucket AND e.vec_id <> q.query_id
),
lsh_k AS (SELECT query_id, vec_id FROM lsh_cand WHERE rn <= {k}),
i8_cand AS (
  SELECT q.query_id, e.vec_id,
    row_number() OVER (PARTITION BY q.query_id
      ORDER BY {qcos} DESC, e.vec_id ASC) AS rn
  FROM qv e, qq q WHERE e.vec_id <> q.query_id
),
i8_k AS (SELECT query_id, vec_id FROM i8_cand WHERE rn <= {k})
{_recall_block("lsh", "lsh_k")}
UNION ALL
{_recall_block("int8", "i8_k")}"""


def heavy_hitters_sql(k: int = 30) -> str:
    """Oracle for aggregate.heavy_hitters over document words: the
    plain unbounded GROUP BY … HAVING the two-pass MG plan replaces —
    exact integer cross-multiplied threshold, same tokenization as
    every other word op (string_split_regex(trim, '\\s+'))."""
    return f"""WITH w AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
tot AS (SELECT count(*) AS n FROM w)
SELECT word, count(*) AS cnt,
  round(count(*) * 1.0 / max(n), 6) AS share
FROM w, tot
GROUP BY word
HAVING count(*) * {k} > max(n)
ORDER BY cnt DESC, word ASC"""


def domain_quota_sql(
    max_per_group: int = 20,
    group_col: str = "source",
    key: str = "doc_id",
    salt: str = "quota",
) -> str:
    """Oracle for sampling.domain_quota: one unbounded rank window
    over every group (the plan the zipf-aware two-path Spark operator
    avoids) filtered to the same lowest-bucket keep rule."""
    b = _bucket_sql(key, salt)
    return f"""WITH b AS (
  SELECT {key}, {group_col}, {b} AS bucket FROM documents
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY {group_col}
    ORDER BY bucket, {key}) AS rn
  FROM b
)
SELECT {key}, {group_col}, bucket FROM r WHERE rn <= {max_per_group}"""


def _split_case(weights=None) -> str:
    """The shared bucket→split-name CASE used by hash_split_sql and
    leakage_split_sql (same thresholds as sampling.hash_split)."""
    from gclog_parser_spark.operators.sampling import BUCKETS

    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    names = list(weights)
    cum = 0.0
    cases = []
    for name in names[:-1]:
        cum += weights[name] / total
        cases.append(f"WHEN b < {int(round(cum * BUCKETS))} THEN '{name}'")
    return "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"


def leakage_split_sql(weights=None, salt: str = "split") -> str:
    """Oracle for sampling.leakage_safe_split: the recursive-CTE
    transitive-closure clusters (independent of the Spark side's
    alternating-star CC) bucketed on cluster_id with the same split
    thresholds as hash_split."""
    return f"""WITH b AS (
  SELECT doc_id, cluster_id,
    {_bucket_sql("cluster_id", salt)} AS b
  FROM ({dedup_clusters_sql()})
)
SELECT doc_id, cluster_id, {_split_case(weights)} AS split FROM b"""


def label_centroids_sql() -> str:
    """Oracle for similarity.label_centroids — the same integer-tick
    centroid/cohesion statistics re-derived with DuckDB's
    unnest+generate_subscripts and ordered-list folds."""
    from gclog_parser_spark.operators.similarity import CENTROID_TICKS

    tk = CENTROID_TICKS
    return f"""WITH t AS (
  SELECT label,
    generate_subscripts(embedding, 1) - 1 AS pos,
    CAST(round(unnest(embedding)::DOUBLE * {tk}) AS BIGINT) AS tk
  FROM embeddings
),
per AS (
  SELECT label, pos, CAST(sum(tk) AS BIGINT) AS s FROM t GROUP BY 1, 2
),
nv AS (
  SELECT label, count(*) AS n_vecs,
    CAST(sum(CAST(round(sqrt(list_dot_product(
      embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000)
      AS BIGINT)) AS BIGINT) AS norm_ticks
  FROM embeddings GROUP BY 1
),
arr AS (
  SELECT p.label, n.n_vecs, n.norm_ticks, list(s ORDER BY pos) AS sl
  FROM per p JOIN nv n USING (label)
  GROUP BY 1, 2, 3
),
m AS (
  SELECT label, n_vecs, norm_ticks,
    sqrt(list_aggregate(list_transform(sl,
      s -> (s / n_vecs / {tk}.0) * (s / n_vecs / {tk}.0)),
      'sum')) AS centroid_norm,
    norm_ticks / n_vecs / 1000000.0 AS mean_norm
  FROM arr
)
SELECT label, n_vecs,
  round(centroid_norm, 6) AS centroid_norm,
  round(mean_norm, 6) AS mean_norm,
  CASE WHEN mean_norm <> 0
    THEN round(centroid_norm / mean_norm, 6) END AS cohesion
FROM m"""


def split_contamination_sql(
    k: int = 5,
    weights=None,
    train_split: str = "train",
    eval_split: str = "test",
    salt: str = "split",
) -> str:
    """Oracle for textstats.split_contamination — same split
    thresholds, DuckDB list shingles, direct inner-join shared-gram
    count."""
    return f"""WITH b AS (
  SELECT doc_id, text, {_bucket_sql("doc_id", salt)} AS b
  FROM documents
),
s AS (SELECT doc_id, text, {_split_case(weights)} AS split FROM b),
w AS (
  SELECT doc_id, split,
    string_split_regex(trim(text), '\\s+') AS w
  FROM s
),
g AS (
  SELECT doc_id, split,
    unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(w) - {k - 1}, 0)),
      i -> array_to_string(list_slice(w, i, i + {k - 1}), ' ')
    ))) AS gram
  FROM w
),
tr AS (SELECT DISTINCT gram FROM g WHERE split = '{train_split}'),
te AS (SELECT doc_id, gram FROM g WHERE split = '{eval_split}'),
tot AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY 1),
shd AS (
  SELECT doc_id, count(*) AS n_shared
  FROM te JOIN tr USING (gram) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(shd.n_shared, 0) AS BIGINT) AS n_shared,
  round(coalesce(shd.n_shared, 0)
        / greatest(coalesce(tot.n_grams, 0), 1), 6) AS contamination
FROM (SELECT doc_id FROM s WHERE split = '{eval_split}') d
LEFT JOIN tot USING (doc_id)
LEFT JOIN shd USING (doc_id)"""


def weighted_sample_sql(
    weight_expr: str = "quality_score",
    key: str = "doc_id",
    salt: str = "wsample",
) -> str:
    """Oracle for sampling.weighted_sample with the quality score as
    the keep probability — same clamp, same integer bucket rule."""
    from gclog_parser_spark.operators.sampling import BUCKETS

    thr = (
        f"CAST(round(least(greatest({weight_expr}, 0.0), 1.0)"
        f" * {BUCKETS}) AS BIGINT)"
    )
    return f"""WITH q AS ({text_quality_sql()})
SELECT doc_id, quality_score FROM q
WHERE {_bucket_sql(key, salt)} < {thr}"""


_SYNTH_MESSY_URL = """
  (CASE WHEN doc_id % 7 = 0 THEN 'HTTP' ELSE 'https' END || '://'
   || CASE WHEN doc_id % 9 = 0 THEN upper(
        CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
             WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
        || source
        || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END)
      ELSE
        CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
             WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
        || source
        || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END
      END
   || CASE WHEN doc_id % 11 = 0 THEN ':8080'
           WHEN doc_id % 13 = 0 THEN
             CASE WHEN doc_id % 7 = 0 THEN ':80' ELSE ':443' END
           ELSE '' END
   || '/' || lang || '/p' || CAST(doc_id % 100 AS VARCHAR)
   || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
   || CASE WHEN doc_id % 6 = 0
           THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                || '&ref=rss'
           WHEN doc_id % 10 = 0 THEN '?b=2&a=1&gclid=xyz'
           ELSE '' END
   || CASE WHEN doc_id % 5 = 0
           THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
"""


def canonical_urls_sql() -> str:
    """Oracle for webstats.canonicalize_url over the identically
    messy-synthesized corpus — the same canonical rules re-derived
    with DuckDB regexps and list functions."""
    from gclog_parser_spark.operators.webstats import TRACKING_RE

    track = TRACKING_RE.replace("'", "''")
    return f"""WITH u AS (
  SELECT doc_id, {_SYNTH_MESSY_URL} AS url FROM documents
),
p AS (
  SELECT doc_id, url,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
      '^[^:]+://([^/?#]*)', 1)) AS auth_raw,
    regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''),
      '^[^:]+://[^/?#]*([^?#]*)', 1), '/+$', '') AS path_raw,
    regexp_extract(regexp_replace(url, '#.*$', ''),
      '\\?([^#]*)', 1) AS q
  FROM u
),
c AS (
  SELECT doc_id, url, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(auth_raw, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(auth_raw, ':443$', '')
         ELSE auth_raw END AS auth,
    CASE WHEN path_raw = '' THEN '/' ELSE path_raw END AS path,
    list_sort(list_filter(string_split(q, '&'),
      p -> p <> '' AND NOT regexp_matches(p, '{track}'))) AS params
  FROM p
)
SELECT doc_id, url,
  scheme || '://' || auth || path ||
  CASE WHEN len(params) > 0
       THEN '?' || array_to_string(params, '&') ELSE '' END
  AS canon_url
FROM c"""


def span_dedup_sql(k: int = 5) -> str:
    """ExactSubstr span-dedup oracle (twin of
    ``operators/dedup.py::span_dedup``).  Independent construction:
    DuckDB builds k-gram starts by unnesting ``range()`` and slicing
    the words list (Spark uses the shingle HOF), and marks coverage
    with the same ROWS-frame window both engines must agree on."""
    return f"""WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
tok AS (
  SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS word
  FROM t
),
st0 AS (
  SELECT doc_id, w,
    unnest(range(1, greatest(len(w) - {k - 1}, 0) + 1)) AS i
  FROM t
),
st AS (
  SELECT doc_id, i - 1 AS spos,
    md5(array_to_string(w[i:i + {k - 1}], ' ')) AS sh
  FROM st0
),
dup AS (SELECT sh FROM st GROUP BY sh HAVING count(*) > 1),
flg AS (SELECT st.doc_id, st.spos, 1 AS s FROM st JOIN dup USING (sh)),
cov AS (
  SELECT tok.doc_id, tok.pos, tok.word,
    max(coalesce(flg.s, 0)) OVER (
      PARTITION BY tok.doc_id ORDER BY tok.pos
      ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS covered
  FROM tok LEFT JOIN flg
    ON tok.doc_id = flg.doc_id AND tok.pos = flg.spos
)
SELECT doc_id,
  coalesce(
    string_agg(CASE WHEN covered = 0 THEN word END, ' ' ORDER BY pos),
    '') AS clean_text,
  count(*) AS n_tokens,
  CAST(sum(covered) AS BIGINT) AS n_removed
FROM cov GROUP BY doc_id"""


def srp_project_sql(in_dim: int = 64, out_dim: int = 16) -> str:
    """Signed-random-projection oracle (twin of
    ``operators/similarity.py::srp_project``): the ±1 matrix is the
    parity of the first md5 hex nibble of ``"i:j"`` — computable in
    pure SQL — and all cross-terms are integer ticks, so the sums are
    exact BIGINTs no matter the aggregation order."""
    return f"""WITH sgn AS (
  SELECT i, j, CASE WHEN substr(md5(concat(i, ':', j)), 1, 1)
    IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS s
  FROM range({in_dim}) t1(i), range({out_dim}) t2(j)
),
tk AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
      AS tick
  FROM embeddings
)
SELECT vec_id, j, CAST(sum(s * tick) AS BIGINT) AS pt
FROM tk JOIN sgn USING (i) GROUP BY vec_id, j"""


def surprisal_buckets_sql() -> str:
    """CC-Net bucket oracle (twin of
    ``textstats.unigram_surprisal_buckets``) — same rational surprisal
    ticks, same ntile; only the relational construction differs
    (scalar-CTE totals vs Spark's broadcast one-row cross join)."""
    return """WITH w AS (
  SELECT doc_id, lang,
    unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, lang, word, count(*) AS tf FROM w GROUP BY 1, 2, 3
),
cw AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cw FROM tf GROUP BY 1),
tot AS (
  SELECT CAST(sum(cw) AS BIGINT) AS c, count(*) AS v FROM cw
),
sc AS (
  SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
    CAST(sum(tf * CAST(round(
      CAST(c + v AS DOUBLE) / CAST(cw + 1 AS DOUBLE) * 1000000
    ) AS BIGINT)) AS BIGINT) AS ticks
  FROM tf JOIN cw USING (word), tot
  GROUP BY 1, 2
)
SELECT doc_id, lang, n_tokens,
  round(ticks / n_tokens / 1000000.0, 6) AS surprisal,
  ntile(3) OVER (
    PARTITION BY lang
    ORDER BY round(ticks / n_tokens / 1000000.0, 6), doc_id
  ) AS bucket
FROM sc"""


def dsir_weights_sql(
    target_where: str = "lang = 'en' AND doc_id % 7 = 0",
    n_buckets: int = 1024,
) -> str:
    """DSIR importance-weight oracle (twin of
    ``sampling.importance_weights``) — same hashed-bucket ratio ticks,
    independent relational construction."""
    h = "CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT)"
    return f"""WITH w AS (
  SELECT doc_id, lang,
    unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
wb AS (SELECT doc_id, lang, {h} % {n_buckets} AS b FROM w),
tf AS (SELECT doc_id, lang, b, count(*) AS tf FROM wb GROUP BY 1, 2, 3),
q AS (SELECT b, CAST(sum(tf) AS BIGINT) AS cq FROM tf GROUP BY 1),
tw AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE {target_where}
),
tb AS (SELECT {h} % {n_buckets} AS b, count(*) AS ct FROM tw GROUP BY 1),
dim AS (
  SELECT q.b, q.cq, coalesce(tb.ct, 0) AS ct
  FROM q LEFT JOIN tb USING (b)
),
tot AS (
  SELECT CAST(sum(cq) AS BIGINT) AS cq_tot,
    CAST(sum(ct) AS BIGINT) AS ct_tot FROM dim
),
tk AS (
  SELECT b, CAST(round(
    CAST(ct + 1 AS DOUBLE) * CAST(cq_tot + {n_buckets} AS DOUBLE)
    / (CAST(ct_tot + {n_buckets} AS DOUBLE)
       * CAST(cq + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS tick
  FROM dim, tot
),
sc AS (
  SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
    CAST(sum(tf * tick) AS BIGINT) AS ticks
  FROM tf JOIN tk USING (b) GROUP BY 1, 2
)
SELECT doc_id, lang, n_tokens,
  round(ticks / n_tokens / 1000000.0, 6) AS dsir_score
FROM sc"""


def dedup_containment_sql(
    min_containment: float = 0.8, max_df: int = 256
) -> str:
    """Containment-pair oracle (twin of
    ``dedup.containment_pairs``): same postings construction as the
    Jaccard oracle, asymmetric C = i / least(|A|,|B|)."""
    return f"""WITH {SHINGLES_CTE},
postings_all AS (
  SELECT DISTINCT doc_id, source AS bucket, unnest(shingles) AS shingle
  FROM sh
),
rare AS (
  SELECT shingle FROM postings_all GROUP BY shingle
  HAVING count(*) <= {max_df}
),
postings AS (
  SELECT p.* FROM postings_all p JOIN rare USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM postings GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM postings a JOIN postings b
    ON a.shingle = b.shingle AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
  sa.n AS na, sb.n AS nb,
  round(i / least(sa.n, sb.n), 6) AS containment,
  round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i / least(sa.n, sb.n), 6) >= {min_containment}"""


def ann_pq_sql(
    query_vec_id: int = 0,
    k: int = 10,
    iters: int = 2,
    m_sub: int = 4,
    ks: int = 8,
    dim: int = 64,
) -> str:
    """Independent re-derivation of the PRODUCT-QUANTIZATION index
    (similarity.pq_train/pq_encode/pq_topk): the same per-subspace
    Lloyd's iterations unrolled in pure SQL — init codebook = the
    tick-quantized subvectors of the first ks vectors, per iteration
    (argmin integer-L2 assignment via row_number with the (d, cell)
    tie-break, tick-rounded member means, empty-cell fallback) — then
    ADC: a (m, cell) lookup table of exact query→centroid tick
    distances summed per vector.  Every cross-row quantity is an exact
    integer, so the two engines cannot drift."""
    parts = _pq_parts(query_vec_id, iters, m_sub, ks, dim)
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT a.vec_id, CAST(sum(l.d) AS BIGINT) AS pq_dist_ticks
FROM af a JOIN lut l ON l.m = a.m AND l.cell = a.cell
WHERE a.vec_id <> {query_vec_id}
GROUP BY 1
ORDER BY pq_dist_ticks, vec_id
LIMIT {k}"""
    )


def _pq_parts(
    query_vec_id: int, iters: int, m_sub: int, ks: int, dim: int
) -> list[str]:
    """The PQ training + encoding + query-LUT CTE chain shared by
    ``ann_pq_sql`` and ``ann_ivfpq_sql`` — ends with ``af``
    (per-vector per-subspace assigned cell) and ``lut`` (exact tick
    distance query→centroid per (m, cell))."""
    sub = dim // m_sub
    parts = [
        "e0 AS (SELECT vec_id,"
        " generate_subscripts(embedding, 1) - 1 AS pos,"
        " CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)"
        " AS BIGINT) AS t FROM embeddings)",
        f"et AS (SELECT vec_id, CAST(pos // {sub} AS INT) AS m,"
        f" CAST(pos % {sub} AS INT) AS i, t FROM e0)",
        f"c0 AS (SELECT m, CAST(vec_id AS INT) AS cell, i, t"
        f" FROM et WHERE vec_id < {ks})",
    ]
    prev = "c0"
    for r in range(1, iters + 1):
        parts += [
            f"d{r} AS (SELECT e.vec_id, e.m, c.cell,"
            f" sum((e.t - c.t) * (e.t - c.t)) AS d"
            f" FROM et e JOIN {prev} c ON c.m = e.m AND c.i = e.i"
            f" GROUP BY 1, 2, 3)",
            f"a{r} AS (SELECT vec_id, m, cell FROM ("
            f"SELECT vec_id, m, cell, row_number() OVER ("
            f"PARTITION BY vec_id, m ORDER BY d, cell) AS rn"
            f" FROM d{r}) WHERE rn = 1)",
            f"m{r} AS (SELECT a.m, a.cell, e.i,"
            f" CAST(round(CAST(sum(e.t) AS DOUBLE) / count(*))"
            f" AS BIGINT) AS t"
            f" FROM a{r} a JOIN et e"
            f" ON e.vec_id = a.vec_id AND e.m = a.m"
            f" GROUP BY 1, 2, 3)",
            f"c{r} AS (SELECT c.m, c.cell, c.i, coalesce(m.t, c.t) AS t"
            f" FROM {prev} c LEFT JOIN m{r} m"
            f" ON m.m = c.m AND m.cell = c.cell AND m.i = c.i)",
        ]
        prev = f"c{r}"
    parts += [
        f"df AS (SELECT e.vec_id, e.m, c.cell,"
        f" sum((e.t - c.t) * (e.t - c.t)) AS d"
        f" FROM et e JOIN {prev} c ON c.m = e.m AND c.i = e.i"
        f" GROUP BY 1, 2, 3)",
        "af AS (SELECT vec_id, m, cell FROM ("
        "SELECT vec_id, m, cell, row_number() OVER ("
        "PARTITION BY vec_id, m ORDER BY d, cell) AS rn"
        " FROM df) WHERE rn = 1)",
        f"q AS (SELECT m, i, t FROM et WHERE vec_id = {query_vec_id})",
        f"lut AS (SELECT c.m, c.cell,"
        f" sum((q.t - c.t) * (q.t - c.t)) AS d"
        f" FROM {prev} c JOIN q ON q.m = c.m AND q.i = c.i"
        f" GROUP BY 1, 2)",
    ]
    return parts


def ann_ivfpq_sql(
    query_vec_id: int = 0,
    k: int = 10,
    iters: int = 2,
    m_sub: int = 4,
    ks: int = 8,
    dim: int = 64,
    n_probe: int = 2,
) -> str:
    """Independent IVF-PQ re-derivation (similarity.ivfpq_topk,
    no-residual IVFADC): the seed-centroid IVF cell assignment +
    query probe cells of ``ann_ivf_sql`` prune the candidate set; the
    PQ codebook/LUT chain of ``ann_pq_sql`` ranks only those
    candidates by exact integer ADC ticks."""
    from gclog_parser_spark.operators.similarity import (
        centroid_components,
    )

    cents = centroid_components()
    dots = ", ".join(
        "list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(str(c) for c in cent)
        + "]::DOUBLE[]) AS s" + str(j)
        for j, cent in enumerate(cents)
    )
    n = len(cents)
    best = "greatest(" + ", ".join(f"s{j}" for j in range(n)) + ")"
    cell = (
        f"CASE {' '.join(f'WHEN s{j} = {best} THEN {j}' for j in range(n))}"
        " END"
    )
    parts = _pq_parts(query_vec_id, iters, m_sub, ks, dim) + [
        f"scored AS (SELECT vec_id, embedding, {dots} FROM embeddings)",
        f"assigned AS (SELECT vec_id, {cell} AS cell FROM scored)",
        "qcells AS (SELECT cell FROM ("
        f"SELECT unnest([{', '.join(f's{j}' for j in range(n))}]) AS s,"
        f" unnest([{', '.join(str(j) for j in range(n))}]) AS cell"
        f" FROM scored WHERE vec_id = {query_vec_id})"
        f" ORDER BY s DESC, cell ASC LIMIT {n_probe})",
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT a.vec_id, CAST(sum(l.d) AS BIGINT) AS pq_dist_ticks
FROM af a
JOIN lut l ON l.m = a.m AND l.cell = a.cell
JOIN assigned v ON v.vec_id = a.vec_id
JOIN qcells qc ON qc.cell = v.cell
WHERE a.vec_id <> {query_vec_id}
GROUP BY 1
ORDER BY pq_dist_ticks, a.vec_id
LIMIT {k}"""
    )


def classifier_score_sql(n_buckets: int = 4096) -> str:
    """Oracle twin of ``textstats.classifier_score``: same hashed
    uni+bigram features, same md5-derived weight table, same integer
    tick sum and sign test."""
    return f"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(w, x -> 'u:' || x),
    list_transform(
      generate_series(1, greatest(len(w) - 1, 0)),
      i -> 'b:' || array_to_string(list_slice(w, i, i + 1), ' ')
    )
  )) AS feat
  FROM w
),
tf AS (
  SELECT doc_id, {_hex60('feat')} % {n_buckets} AS bucket,
         count(*) AS tf
  FROM feats GROUP BY 1, 2
),
wt AS (
  SELECT i AS bucket,
    ({_hex60("'w:' || CAST(i AS VARCHAR)")} % 2000001) - 1000000
      AS w_tick
  FROM range({n_buckets}) t(i)
)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_feats,
  round(CAST(sum(tf * w_tick) AS BIGINT)
        / CAST(sum(tf) AS BIGINT) / 1000000.0, 6) AS score,
  CAST(sum(tf * w_tick) AS BIGINT) >= 0 AS keep
FROM tf JOIN wt USING (bucket)
GROUP BY 1"""


def domain_mix_sql() -> str:
    """Oracle twin of ``sampling.domain_mix_weights`` — same
    integer-tick √n temperature weights, same rounding nesting."""
    return """WITH per AS (
  SELECT source AS domain, count(*) AS n_docs,
    CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS tick
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS N,
         CAST(sum(tick) AS BIGINT) AS T
  FROM per
)
SELECT domain, n_docs,
  round(n_docs / N, 6) AS share,
  round(tick / T, 6) AS mix_weight,
  round(round(tick / T, 6) / round(n_docs / N, 6), 6) AS boost
FROM per, tot"""


def oov_rate_sql(vocab_size: int = 100) -> str:
    """Oracle twin of ``textstats.oov_rate``: same corpus-trained
    top-V bigram vocabulary with the same deterministic boundary."""
    return f"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(w) - 1, 0)),
    i -> array_to_string(list_slice(w, i, i + 1), ' ')
  )) AS bigram
  FROM w
),
cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1),
vocab AS (
  SELECT bigram FROM cnt ORDER BY c DESC, bigram LIMIT {vocab_size}
)
SELECT b.doc_id,
  count(*) AS n_bigrams,
  CAST(sum(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_oov,
  round(CAST(sum(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) / count(*), 6) AS oov_rate
FROM bg b LEFT JOIN vocab v ON b.bigram = v.bigram
GROUP BY 1"""


def word_drift_sql() -> str:
    """Oracle twin of ``textstats.word_drift`` over the even/odd
    doc_id split the contract query uses — same 1e9 share ticks,
    same full outer join."""
    return """WITH wa AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE doc_id % 2 = 0
),
wb AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents WHERE doc_id % 2 = 1
),
ca AS (SELECT word, count(*) AS n_a FROM wa GROUP BY 1),
cb AS (SELECT word, count(*) AS n_b FROM wb GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(sum(n_a) AS BIGINT) FROM ca) AS ta,
         (SELECT CAST(sum(n_b) AS BIGINT) FROM cb) AS tb
)
SELECT coalesce(ca.word, cb.word) AS word,
  CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
  CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
  round(abs(
    CAST(round(coalesce(n_a, 0) * 1000000000.0 / ta) AS BIGINT)
    - CAST(round(coalesce(n_b, 0) * 1000000000.0 / tb) AS BIGINT)
  ) / 1000000000.0, 6) AS drift
FROM ca FULL OUTER JOIN cb USING (word), tot"""


def bpe_merges_sql(n_merges: int = 8, max_word_len: int = 64) -> str:
    """Unrolled-CTE DuckDB twin of ``operators/tokenizer.bpe_merges``.

    Independently re-derives each step: pair counts over the weighted
    vocab, the (n DESC, lhs, rhs) argmax, and the left-to-right
    non-overlapping merge — the merge expressed as a gaps-and-islands
    window (merge starts = odd row numbers within each maximal run of
    consecutive matched positions) rather than the Spark side's
    aggregate fold, so the two constructions are independent."""
    ctes = [
        "wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq"
        " FROM (SELECT unnest(string_split_regex(trim(text), '\\s+'))"
        " AS word FROM documents)"
        f" WHERE word <> '' AND length(word) <= {max_word_len}"
        " GROUP BY 1)",
        "w0 AS MATERIALIZED (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g'))"
        " AS syms, freq FROM wf)",
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT t.s[u.j] AS lhs, t.s[u.j+1] AS rhs,"
            " CAST(sum(t.freq) AS BIGINT) AS n"
            f" FROM (SELECT string_split(syms, ' ') AS s, freq FROM w{p}) t,"
            " unnest(generate_series(1, len(t.s)-1)) AS u(j)"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"best{i} AS MATERIALIZED (SELECT lhs, rhs, n FROM p{i}"
            " ORDER BY n DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT t.syms, t.freq, u.j AS j, t.s[u.j] AS sym,"
            " t.s[u.j+1] AS nxt,"
            " CASE WHEN u.j < len(t.s)"
            f" AND t.s[u.j] = (SELECT lhs FROM best{i})"
            f" AND t.s[u.j+1] = (SELECT rhs FROM best{i})"
            " THEN 1 ELSE 0 END AS m"
            f" FROM (SELECT syms, freq, string_split(syms, ' ') AS s"
            f" FROM w{p}) t,"
            " unnest(generate_series(1, len(t.s))) AS u(j))"
        )
        ctes.append(
            f"isl{i} AS MATERIALIZED (SELECT syms, j, j - row_number() OVER"
            " (PARTITION BY syms ORDER BY j) AS isl"
            f" FROM e{i} WHERE m = 1)"
        )
        ctes.append(
            f"st{i} AS MATERIALIZED (SELECT syms, j FROM (SELECT syms, j,"
            " row_number() OVER (PARTITION BY syms, isl ORDER BY j) AS rr"
            f" FROM isl{i}) WHERE rr % 2 = 1)"
        )
        ctes.append(
            f"w{i} AS MATERIALIZED (SELECT string_agg(CASE WHEN s1.j IS NOT NULL"
            " THEN e.sym || e.nxt ELSE e.sym END, ' ' ORDER BY e.j)"
            " AS syms, any_value(e.freq) AS freq"
            f" FROM e{i} e"
            f" LEFT JOIN st{i} s1 ON s1.syms = e.syms AND s1.j = e.j"
            f" LEFT JOIN st{i} s2 ON s2.syms = e.syms AND s2.j = e.j - 1"
            " WHERE s2.j IS NULL GROUP BY e.syms)"
        )
    finals = " UNION ALL ".join(
        f"SELECT {i} AS step, lhs, rhs, n FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (" + finals + ")"


def pack_sequences_sql(
    seq_len: int = 128,
    n_groups: int = 8,
    key: str = "doc_id",
    salt: str = "pack",
) -> str:
    """Twin of ``sampling.pack_sequences`` — same content-keyed order
    and exclusive prefix sum; the span explode is a generate_series
    lateral instead of Spark's sequence+explode."""
    from gclog_parser_spark.operators.textstats import TOKEN_RE

    b = _bucket_sql(key, salt)
    toks = _count_re("text", TOKEN_RE)
    return f"""WITH base AS (
  SELECT {key},
    CAST({b} % {n_groups} AS INT) AS pack_group,
    {b} AS order_key,
    CAST({toks} AS BIGINT) AS doc_tokens
  FROM documents
),
spans AS (
  SELECT {key}, pack_group, doc_tokens,
    sum(doc_tokens) OVER (
      PARTITION BY pack_group ORDER BY order_key, {key}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - doc_tokens
      AS off
  FROM base WHERE doc_tokens > 0
)
SELECT s.{key}, s.pack_group,
  CAST(u.seq_idx AS BIGINT) AS seq_idx,
  CAST(greatest(u.seq_idx * {seq_len} - s.off, 0) AS BIGINT) AS tok_start,
  CAST(least((u.seq_idx + 1) * {seq_len} - s.off, s.doc_tokens) AS BIGINT)
    AS tok_end
FROM spans s,
  unnest(generate_series(CAST(s.off // {seq_len} AS BIGINT),
                         CAST((s.off + s.doc_tokens - 1) // {seq_len}
                              AS BIGINT)))
    AS u(seq_idx)"""


def incremental_dedup_sql() -> str:
    """Oracle twin of ``dedup.incremental_dedup`` over the even/odd
    doc_id split (even = deduped corpus, odd = new batch).  Re-derives
    the verdicts from the FULL-corpus pair set — pairs among all docs,
    classified by which side of the split each endpoint falls on — so
    it checks the incremental path against what full re-clustering
    would call a duplicate, not against the same probe joins."""
    return f"""WITH {_minhash_ctes()},
pairs AS (SELECT DISTINCT doc_a, doc_b FROM ({_MINHASH_PAIRS_SELECT})),
batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
ex AS (
  SELECT DISTINCT b.doc_id FROM batch b
  JOIN corpus c ON md5(b.text) = md5(c.text)
),
vs_old AS (
  SELECT DISTINCT
    CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS doc_id
  FROM pairs WHERE (doc_a % 2) <> (doc_b % 2)
),
vs_new AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs WHERE doc_a % 2 = 1 AND doc_b % 2 = 1
)
SELECT b.doc_id,
  (e.doc_id IS NOT NULL) AS dup_exact,
  (o.doc_id IS NOT NULL) AS dup_of_corpus,
  (n.doc_id IS NOT NULL) AS dup_in_batch,
  (e.doc_id IS NULL AND o.doc_id IS NULL AND n.doc_id IS NULL) AS keep
FROM batch b
LEFT JOIN ex e USING (doc_id)
LEFT JOIN vs_old o USING (doc_id)
LEFT JOIN vs_new n USING (doc_id)"""


def triangle_counts_sql() -> str:
    """Oracle twin of ``graph.triangle_counts`` over the same
    events-derived link graph — INDEPENDENT construction: no degree
    orientation, just the canonical a<b<c edge-chain join (each
    triangle enumerated exactly once because every undirected edge is
    stored as u<v)."""
    nv = "(SELECT count(DISTINCT user_id) FROM events)"
    return f"""WITH edges AS (
  SELECT DISTINCT user_id AS src, event_id % {nv} AS dst FROM events
),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY 1),
nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und)
SELECT n.node, coalesce(c.n_triangles, 0) AS n_triangles
FROM nodes n LEFT JOIN cnt c USING (node)"""


def knn_graph_sql(k: int = 3) -> str:
    """Oracle twin of ``similarity.knn_graph`` — same LSH buckets and
    guarded cosine, rank re-derived with a plain window."""
    bits = _planes_sql().split(", (")
    bits = [b if b.startswith("(") else "(" + b for b in bits]
    bucket = " || ".join(
        f"(CASE WHEN {b} THEN '1' ELSE '0' END)" for b in bits
    )
    cos = _cos_guarded("a.embedding", "b.embedding")
    return f"""WITH buckets AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {cos} AS sim
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT src, dst, sim, rank FROM (
  SELECT src, dst, sim,
    CAST(row_number() OVER (
      PARTITION BY src ORDER BY sim DESC, dst) AS INT) AS rank
  FROM pairs WHERE sim IS NOT NULL
) WHERE rank <= {k}"""


def _phash_cte(bits: int = 60) -> str:
    """Shared CTE chain deriving (url, n_cp, phash) — the SAME
    block-mean bit rule as ``multimodal.media_phash`` re-derived over
    SQL codepoints (``unicode(substr(...))`` == Python ``ord`` on the
    utf-8-roundtripped payload), exact integer cross-multiplication."""
    return f"""cps AS (
  SELECT url, length(html_text) AS n,
    unnest(generate_series(1, length(html_text))) AS i,
    html_text
  FROM pages WHERE length(html_text) > 0
),
pc AS (
  SELECT url, n, ((i - 1) * {bits}) // n AS blk,
    CAST(unicode(substr(html_text, CAST(i AS INT), 1)) AS BIGINT) AS cp
  FROM cps
),
blocks AS (
  SELECT url, n, blk,
    CAST(SUM(cp) AS BIGINT) AS bs, CAST(COUNT(*) AS BIGINT) AS bn
  FROM pc GROUP BY 1, 2, 3
),
tot AS (SELECT url, CAST(SUM(cp) AS BIGINT) AS total FROM pc GROUP BY 1),
phashes AS MATERIALIZED (
  SELECT b.url, CAST(MAX(b.n) AS BIGINT) AS n_cp,
    CAST(SUM(CASE WHEN b.bs * b.n >= t.total * b.bn
          THEN (CAST(1 AS BIGINT) << ({bits} - 1 - b.blk))
          ELSE 0 END) AS BIGINT) AS phash
  FROM blocks b JOIN tot t USING (url)
  GROUP BY 1
)"""


def media_phash_sql(bits: int = 60) -> str:
    """Oracle twin of ``multimodal.media_phash``."""
    return f"""WITH {fixtures_values()},
{PAGES_CTE.replace("f.fixture_text AS gc_text", f"{_HTML_EXPR} AS html_text")},
{_phash_cte(bits)}
SELECT url, n_cp, phash FROM phashes"""


def media_phash_pairs_sql(max_hamming: int = 12, bits: int = 60) -> str:
    """Oracle twin of ``multimodal.media_phash_pairs`` — deliberately
    the all-pairs plan (no banding), so it also proves the banded
    candidate generation loses no pair with hamming <= max_hamming
    (< bands)."""
    return f"""WITH {fixtures_values()},
{PAGES_CTE.replace("f.fixture_text AS gc_text", f"{_HTML_EXPR} AS html_text")},
{_phash_cte(bits)}
SELECT a.url AS url_a, b.url AS url_b,
  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM phashes a JOIN phashes b ON a.url < b.url
WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}"""


def lsh_recall_sql(num: int = 1, den: int = 2) -> str:
    """Oracle for dedup.lsh_recall — truth from the prefix-filter
    exact-Jaccard query, candidates from the banding query (both full
    queries nested as derived tables so their CTE namespaces cannot
    collide), metrics by the same greatest(·,1)-guarded divisions."""
    return f"""WITH truth AS (
  SELECT doc_a, doc_b FROM ({prefix_jaccard_sql(num, den)})
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM ({dedup_minhash_sql()})
),
m AS (
  SELECT
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM truth JOIN cand USING (doc_a, doc_b))
      AS n_hits
)
SELECT n_truth, n_candidates, n_hits,
  round(n_hits / greatest(n_truth, 1), 6) AS recall,
  round(n_hits / greatest(n_candidates, 1), 6) AS efficiency
FROM m"""


def media_neighbor_sql(k: int = 10, dim: int = 8) -> str:
    """Oracle for multimodal.media_neighbor_topk: re-derives the
    md5-lane embeddings relationally (one (url, j) row per lane), the
    largest-duplicate-group probe, and the exact BIGINT dot-product
    top-k with the same (dot DESC, url ASC) deterministic cut."""
    lane = (
        "CAST('0x' || substr(md5(html_text || ':' ||"
        " CAST(j AS VARCHAR)), 1, 6) AS BIGINT) - 8388608"
    )
    return f"""WITH {fixtures_values()},
{PAGES_CTE.replace("f.fixture_text AS gc_text", f"{_HTML_EXPR} AS html_text")},
emb AS (
  SELECT url, j, {lane} AS v
  FROM pages, unnest(generate_series(0, {dim - 1})) AS t(j)
),
probe AS (
  SELECT url FROM (
    SELECT md5(html_text) AS h, count(*) AS n, min(url) AS url
    FROM pages GROUP BY 1
  ) ORDER BY n DESC, url ASC LIMIT 1
),
pe AS (SELECT e.j, e.v FROM emb e JOIN probe p ON e.url = p.url),
dots AS (
  SELECT e.url, CAST(SUM(e.v * pe.v) AS BIGINT) AS dot
  FROM emb e JOIN pe ON e.j = pe.j
  WHERE e.url <> (SELECT url FROM probe)
  GROUP BY e.url
)
SELECT (SELECT url FROM probe) AS probe_url, url, dot
FROM dots ORDER BY dot DESC, url ASC LIMIT {k}"""


def bigram_lm_sql(salt: str = "split") -> str:
    """Oracle for textstats.bigram_lm_score: same hash split, bigrams
    by 1-based list indexing over an unnested position series (vs
    Spark's slice+zip — different construction, same pairs), same
    exact-rational tick with the identical single-division expression
    order, same BIGINT sum and final rounding."""
    from gclog_parser_spark.operators.sampling import BUCKETS

    thr = int(round(0.9 * BUCKETS))
    return f"""WITH d AS (
  SELECT doc_id,
    CASE WHEN {_bucket_sql('doc_id', salt)} < {thr} THEN 'train'
         WHEN {_bucket_sql('doc_id', salt)} < {int(round(0.95 * BUCKETS))}
           THEN 'val' ELSE 'test' END AS split,
    string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
bi AS (
  SELECT doc_id, split, w[i] AS prev, w[i + 1] AS cur
  FROM d, unnest(generate_series(1, len(w) - 1)) AS t(i)
),
tok AS (SELECT unnest(w) AS word FROM d WHERE split = 'train'),
c1 AS (SELECT word, count(*) AS n1 FROM tok GROUP BY 1),
tot AS (SELECT sum(n1) AS C, count(*) AS V FROM c1),
c2 AS (
  SELECT prev, cur, count(*) AS n2 FROM bi
  WHERE split = 'train' GROUP BY 1, 2
),
scored AS (
  SELECT bi.doc_id, bi.split,
    CAST(round(
      CAST(2 * greatest(coalesce(p.n1, 0), 1) * (tot.C + tot.V)
           AS DOUBLE)
      / CAST(coalesce(c2.n2, 0) * (tot.C + tot.V)
             + (coalesce(u.n1, 0) + 1)
               * greatest(coalesce(p.n1, 0), 1) AS DOUBLE)
      * 1000000.0) AS BIGINT) AS tick
  FROM bi
  LEFT JOIN c2 USING (prev, cur)
  LEFT JOIN c1 p ON bi.prev = p.word
  LEFT JOIN c1 u ON bi.cur = u.word, tot
)
SELECT doc_id, split, count(*) AS n_bigrams,
  round(CAST(sum(tick) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        / 1000000.0, 6) AS lm_surprisal
FROM scored GROUP BY 1, 2"""


def hybrid_rrf_sql(
    terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    depth: int = 20,
    k0: int = 60,
) -> str:
    """Oracle for textstats.hybrid_rrf_topk: the bm25_sql per-term
    top-``depth`` pools summed as integer ticks for the lexical
    ranking, the ann_cosine ranking for the semantic side, RRF fused
    with the same two fixed-order IEEE divisions and 9-dp round."""
    bm25 = bm25_sql(terms, k=depth)
    cos = _cos_guarded("e.embedding", "q.q")
    return f"""WITH lexpool AS ({bm25}),
lexsum AS (
  SELECT doc_id,
    CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT)
      AS lex_ticks
  FROM lexpool GROUP BY doc_id
),
lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id, CAST(row_number() OVER (
      ORDER BY lex_ticks DESC, doc_id ASC) AS INT) AS lex_rank
    FROM lexsum
  ) WHERE lex_rank <= {depth}
),
q AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = {query_vec_id}
),
cospool AS (
  SELECT e.vec_id AS doc_id, {cos} AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> {query_vec_id}
  ORDER BY sim DESC, e.vec_id ASC LIMIT {depth}
),
sem AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY sim DESC, doc_id ASC) AS INT) AS sem_rank
  FROM cospool
)
SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
  l.lex_rank AS lex_rank,
  s.sem_rank AS sem_rank,
  round(coalesce(1.0 / ({k0} + l.lex_rank), 0.0)
        + coalesce(1.0 / ({k0} + s.sem_rank), 0.0), 9) AS rrf
FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT {k}"""


def embedding_checks_sql(dim: int = 64) -> str:
    """Oracle for quality.embedding_checks: the same five violating
    fractions re-derived with DuckDB list functions (fused into one
    aggregate, then unpivoted as five literal rows).  NULL-component
    semantics mirror the Spark HOFs: a vector with any NULL element is
    a null_components violation and is NOT a zero-vector (the guard
    list_filter(x IS NULL) below)."""
    return f"""WITH a AS (
  SELECT
    round(CAST(sum(CASE WHEN embedding IS NULL
      THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS m_null_vec,
    round(CAST(sum(CASE WHEN embedding IS NOT NULL
      AND len(embedding) <> {dim}
      THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS m_wrong_dim,
    round(CAST(sum(CASE WHEN embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL)) > 0
      THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS m_null_comp,
    round(CAST(sum(CASE WHEN embedding IS NOT NULL
      AND len(list_filter(embedding,
        x -> isnan(x::DOUBLE) OR isinf(x::DOUBLE))) > 0
      THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS m_nonfinite,
    round(CAST(sum(CASE WHEN embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
      AND len(list_filter(embedding, x -> NOT (x = 0))) = 0
      THEN 1 ELSE 0 END) AS BIGINT) / count(*), 6) AS m_zero_norm
  FROM embeddings
)
SELECT rule, metric, metric <= 0.0 AS passed FROM (
  SELECT 'emb_vector_not_null' AS rule, m_null_vec AS metric FROM a
  UNION ALL
  SELECT 'emb_dim_consistent', m_wrong_dim FROM a
  UNION ALL
  SELECT 'emb_no_null_components', m_null_comp FROM a
  UNION ALL
  SELECT 'emb_components_finite', m_nonfinite FROM a
  UNION ALL
  SELECT 'emb_no_zero_vectors', m_zero_norm FROM a
)"""


def stream_incremental_dedup_sql() -> str:
    """Oracle for the STREAMING corpus-maintenance loop
    (streaming.run_incremental_dedup_stream over the doc_id % 3
    batch replay): the greedy sequential semantics re-derived in
    staged SQL from the full banded pair set — batch b's doc is a
    duplicate iff it exact-matches an ACCUMULATED survivor, shares a
    band key with an accumulated survivor, or has a banded pair with
    an earlier doc of its own batch (the greedy chain-collapse rule);
    keepers accumulate into the next stage's survivor set.  This is
    survivor-only probing, NOT full-pair classification — the
    distinction the streaming loop's append-only index implies."""
    return f"""WITH {_minhash_ctes()},
pairs AS (SELECT DISTINCT doc_a, doc_b FROM ({_MINHASH_PAIRS_SELECT})),
d AS (SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS batch_idx
      FROM documents),
k0 AS (
  SELECT doc_id FROM d x WHERE batch_idx = 0 AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN d a ON a.doc_id = p.doc_a
    WHERE p.doc_b = x.doc_id AND a.batch_idx = 0)
),
k1 AS (
  SELECT doc_id FROM d x WHERE batch_idx = 1
  AND NOT EXISTS (
    SELECT 1 FROM k0 s JOIN d t ON t.doc_id = s.doc_id
    WHERE md5(t.text) = md5(x.text))
  AND NOT EXISTS (
    SELECT 1 FROM pairs p
    WHERE (p.doc_a = x.doc_id AND p.doc_b IN (SELECT doc_id FROM k0))
       OR (p.doc_b = x.doc_id AND p.doc_a IN (SELECT doc_id FROM k0)))
  AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN d a ON a.doc_id = p.doc_a
    WHERE p.doc_b = x.doc_id AND a.batch_idx = 1)
),
s1 AS (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1),
k2 AS (
  SELECT doc_id FROM d x WHERE batch_idx = 2
  AND NOT EXISTS (
    SELECT 1 FROM s1 s JOIN d t ON t.doc_id = s.doc_id
    WHERE md5(t.text) = md5(x.text))
  AND NOT EXISTS (
    SELECT 1 FROM pairs p
    WHERE (p.doc_a = x.doc_id AND p.doc_b IN (SELECT doc_id FROM s1))
       OR (p.doc_b = x.doc_id AND p.doc_a IN (SELECT doc_id FROM s1)))
  AND NOT EXISTS (
    SELECT 1 FROM pairs p JOIN d a ON a.doc_id = p.doc_a
    WHERE p.doc_b = x.doc_id AND a.batch_idx = 2)
),
surv AS (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM k2)
SELECT d.doc_id, d.batch_idx,
  (d.doc_id IN (SELECT doc_id FROM surv)) AS keep
FROM d"""


def epoch_shuffle_sql(
    epoch: int = 2, n_shards: int = 64, salt: str = "shuffle"
) -> str:
    """Independent oracle for sampling.epoch_shuffle: the same
    portable md5-60bit order key over ``salt:epoch:doc_id``, shard by
    modulus, and the per-shard rank re-derived with a DuckDB window
    (ties broken by doc_id, so the order is total in both engines)."""
    k = _hex60(f"'{salt}:{epoch}:' || CAST(doc_id AS VARCHAR)")
    return f"""WITH k AS (
  SELECT doc_id, {k} AS order_key FROM documents
)
SELECT doc_id, CAST({epoch} AS INT) AS epoch,
  CAST(order_key % {n_shards} AS INT) AS shard,
  CAST(row_number() OVER (
    PARTITION BY order_key % {n_shards}
    ORDER BY order_key, doc_id) - 1 AS BIGINT) AS pos
FROM k"""


def c4_line_filter_sql(
    min_words: int = 5, min_kept_lines: int = 3
) -> str:
    """Independent oracle for textstats.c4_line_filter: the same C4
    line rules as DuckDB ``list_filter`` over chr(10)-split lines."""
    keep = (
        f"regexp_matches(l, '[.!?\"]\\s*$')"
        f" AND len(string_split_regex(trim(l), '\\s+')) >= {min_words}"
        " AND NOT contains(l, '{')"
        " AND NOT contains(lower(l), 'javascript')"
    )
    return f"""WITH lf AS (
  SELECT doc_id,
    string_split(text, chr(10)) AS lines,
    list_filter(string_split(text, chr(10)), l -> {keep}) AS kl,
    contains(lower(text), 'lorem ipsum') AS lorem
  FROM documents
)
SELECT doc_id,
  CAST(len(lines) AS INT) AS n_lines,
  CAST(len(kl) AS INT) AS n_kept,
  (len(kl) >= {min_kept_lines} AND NOT lorem) AS kept
FROM lf"""


def encoding_stats_sql() -> str:
    """Independent oracle for textstats.encoding_stats: the same
    length-delta counts with DuckDB regexp_replace(g)/replace and the
    same integer-arithmetic bad flag."""
    return """SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(length(text) - length(regexp_replace(text, chr(65533), '', 'g'))
    AS INT) AS n_replacement,
  CAST(length(text) - length(regexp_replace(text,
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS INT)
    AS n_control,
  CAST(length(text) - length(replace(text, chr(195), '')) AS INT)
    AS n_mojibake_sig,
  ((length(text) - length(regexp_replace(text, chr(65533), '', 'g'))) > 0
   OR (length(text) - length(regexp_replace(text,
       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'))) * 1000
      > length(text)
   OR (length(text) - length(replace(text, chr(195), ''))) >= 3)
    AS bad
FROM documents"""


def lang_agreement_sql() -> str:
    """Independent oracle for textstats.lang_agreement: the lang_id
    prediction re-derived (same marker argmax), then the confusion
    matrix with a window row total."""
    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{_marker('text', LANG_MARKERS[lg])} AS s_{lg}" for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred = "'und'"
    for lg in reversed(langs):
        pred = (
            f"CASE WHEN s_{lg} = {best} AND {best} > 0 "
            f"THEN '{lg}' ELSE {pred} END"
        )
    return f"""WITH scored AS (
  SELECT doc_id, lang, {scores} FROM documents
),
pred AS (
  SELECT lang AS declared_lang, {pred} AS pred_lang FROM scored
),
cells AS (
  SELECT declared_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT declared_lang, pred_lang, n_docs,
  round(CAST(n_docs AS DOUBLE)
        / sum(n_docs) OVER (PARTITION BY declared_lang), 6)
    AS row_share,
  declared_lang = pred_lang AS agree
FROM cells"""


def ngram_diversity_sql(k: int = 2) -> str:
    """Independent oracle for textstats.ngram_diversity: DuckDB list
    k-grams over the same whitespace tokenization, distinct/total per
    source."""
    return f"""WITH w AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
g AS (
  SELECT source, unnest(list_transform(
    generate_series(1, greatest(len(w) - {k - 1}, 0)),
    i -> array_to_string(list_slice(w, i, i + {k - 1}), ' ')
  )) AS g FROM w
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
  round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS diversity
FROM g GROUP BY 1"""


def media_phash_real_sql(bits: int = 60) -> str:
    """Oracle twin of ``multimodal.media_phash_real`` over
    ``datagen.media_pages``: the decoded values come from the
    generator closed forms (PNG pixels, signed WAV samples, html
    codepoints), block of position i = ``i·bits div n`` (the closed
    form of the numpy reduceat boundaries), bit rule = signed-safe
    integer cross-multiplication — all BIGINT, no codec, no float."""
    stub_text = "'<html><body>media doc ' || d || '</body></html>'"
    return f"""WITH ids AS (SELECT doc_id AS d FROM documents),
png AS (
  SELECT d, 'png' AS decoder,
    'media://' || lpad(CAST(d AS VARCHAR), 8, '0') || '.png' AS url,
    (4 + d % 13) * (3 + d % 7)
      * (CASE WHEN d % 2 = 0 THEN 1 ELSE 3 END) AS n
  FROM ids WHERE d % 3 = 0
),
wav AS (
  SELECT d, 'wav' AS decoder,
    'media://' || lpad(CAST(d AS VARCHAR), 8, '0') || '.wav' AS url,
    16 + d % 50 AS n
  FROM ids WHERE d % 3 = 1
),
html AS (
  SELECT d, 'stub' AS decoder,
    'media://' || lpad(CAST(d AS VARCHAR), 8, '0') || '.html' AS url,
    length({stub_text}) AS n, {stub_text} AS t
  FROM ids WHERE d % 3 = 2
),
vals AS (
  SELECT url, decoder, n,
    unnest(generate_series(0, CAST(n AS INT) - 1)) AS i,
    CAST(NULL AS VARCHAR) AS t, d
  FROM png
  UNION ALL
  SELECT url, decoder, n,
    unnest(generate_series(0, CAST(n AS INT) - 1)) AS i, NULL, d
  FROM wav
  UNION ALL
  SELECT url, decoder, n,
    unnest(generate_series(0, CAST(n AS INT) - 1)) AS i, t, d
  FROM html
),
v AS (
  SELECT url, decoder, n, i,
    CAST(CASE decoder
      WHEN 'png' THEN (d*31 + i) % 256
      WHEN 'wav' THEN (d*131 + i*7) % 65536 - 32768
      ELSE ord(substr(t, CAST(i AS INT) + 1, 1))
    END AS BIGINT) AS val,
    i * {bits} // n AS b
  FROM vals
),
tot AS (
  SELECT url, any_value(decoder) AS decoder, any_value(n) AS n,
    sum(val) AS total
  FROM v GROUP BY url
),
blk AS (
  SELECT url, b, sum(val) AS bs, count(*) AS bn
  FROM v GROUP BY url, b
)
SELECT t.url, t.decoder, CAST(t.n AS BIGINT) AS n_vals,
  CAST(sum(CASE WHEN blk.bs * t.n >= t.total * blk.bn
    THEN CAST(1 AS BIGINT) << CAST({bits} - 1 - blk.b AS INT)
    ELSE 0 END) AS BIGINT) AS phash
FROM tot t JOIN blk USING (url)
GROUP BY t.url, t.decoder, t.n"""


def media_audio_features_sql() -> str:
    """Oracle twin of ``multimodal.media_audio_features``: exact
    integer Σs², max|s|, and sign-product zero crossings over the WAV
    generator closed form — list folds, no codec, no float."""
    sample = "(d*131 + i*7) % 65536 - 32768"
    nxt = "(d*131 + (i+1)*7) % 65536 - 32768"
    return f"""WITH ids AS (SELECT doc_id AS d FROM documents),
wav AS (
  SELECT d, 16 + d % 50 AS n,
    'media://' || lpad(CAST(d AS VARCHAR), 8, '0') || '.wav' AS url
  FROM ids WHERE d % 3 = 1
)
SELECT url, CAST(n AS BIGINT) AS n_samples,
  CAST(8000 + (d % 4) * 4000 AS INT) AS sample_rate,
  CAST(list_sum(list_transform(generate_series(0, CAST(n AS INT) - 1),
    i -> ({sample}) * ({sample}))) AS BIGINT) AS sum_sq,
  CAST(list_max(list_transform(generate_series(0, CAST(n AS INT) - 1),
    i -> abs({sample}))) AS INT) AS peak_abs,
  CAST(coalesce(list_sum(list_transform(
      generate_series(0, CAST(n AS INT) - 2),
      i -> CASE WHEN ({sample}) * ({nxt}) < 0 THEN 1 ELSE 0 END)), 0)
    AS BIGINT) AS zero_crossings
FROM wav"""


def media_image_stats_sql() -> str:
    """Oracle twin of ``multimodal.media_image_stats``: exact integer
    sum/min/max/distinct over the PNG pixel generator closed form."""
    px = "(d*31 + i) % 256"
    return f"""WITH ids AS (SELECT doc_id AS d FROM documents),
png AS (
  SELECT d, 4 + d % 13 AS w, 3 + d % 7 AS h,
    CASE WHEN d % 2 = 0 THEN 1 ELSE 3 END AS ch,
    'media://' || lpad(CAST(d AS VARCHAR), 8, '0') || '.png' AS url
  FROM ids WHERE d % 3 = 0
),
lst AS (
  SELECT url, w, h, ch,
    list_transform(generate_series(0, CAST(w*h*ch AS INT) - 1),
      i -> {px}) AS px
  FROM png
)
SELECT url, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(ch AS INT) AS n_channels,
  CAST(list_sum(px) AS BIGINT) AS sum_px,
  CAST(list_min(px) AS INT) AS min_px,
  CAST(list_max(px) AS INT) AS max_px,
  CAST(len(list_distinct(px)) AS INT) AS n_distinct
FROM lst"""


def corpus_manifest_sql(
    tokens_per_shard: int = 4096, n_groups: int = 8
) -> str:
    """Oracle twin of ``sampling.corpus_manifest``: the shard CTE plus
    an order-invariant exact checksum (BIGINT 60-bit md5 ticks, HUGEINT
    sum on the DuckDB side vs DECIMAL(38,0) on Spark — both exact)."""
    shards = shard_by_tokens_sql(
        tokens_per_shard=tokens_per_shard, n_groups=n_groups
    )
    return f"""WITH sh AS ({shards}),
ticks AS (
  SELECT doc_id,
    CAST('0x' || substr(
      md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')), 1, 15)
      AS BIGINT) AS tick
  FROM documents
)
SELECT sh.shard_group, sh.shard_idx,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(sh.doc_tokens) AS BIGINT) AS n_tokens,
  min(sh.doc_id) AS min_doc_id,
  max(sh.doc_id) AS max_doc_id,
  sum(t.tick) AS content_checksum
FROM sh JOIN ticks t USING (doc_id)
GROUP BY sh.shard_group, sh.shard_idx"""


def readability_sql() -> str:
    """Independent DuckDB twin of textstats.readability: same counting
    regexes via regexp_extract_all, same literal-order formulas, same
    6 dp rounding, bands compared on the rounded ease."""
    n_words = _count_re("text", r"\S+")
    n_sent = f"greatest({_count_re('text', '[.!?]+')}, 1)"
    n_syll = _count_re("lower(text)", "[aeiouy]+")
    ease = (
        f"CASE WHEN {n_words} > 0 THEN round(206.835"
        f" - 1.015 * ({n_words} / {n_sent})"
        f" - 84.6 * ({n_syll} / {n_words}), 6) END"
    )
    grade = (
        f"CASE WHEN {n_words} > 0 THEN round(0.39 * ({n_words} / {n_sent})"
        f" + 11.8 * ({n_syll} / {n_words}) - 15.59, 6) END"
    )
    return f"""WITH r AS (
  SELECT doc_id,
    {n_words} AS n_words,
    {n_sent} AS n_sentences,
    {n_syll} AS n_syllables,
    {ease} AS reading_ease,
    {grade} AS fk_grade
  FROM documents
)
SELECT *,
  CASE WHEN reading_ease IS NULL THEN NULL
       WHEN reading_ease >= 90 THEN 'very_easy'
       WHEN reading_ease >= 70 THEN 'easy'
       WHEN reading_ease >= 50 THEN 'standard'
       WHEN reading_ease >= 30 THEN 'difficult'
       ELSE 'very_difficult' END AS band
FROM r"""


def crawl_budget_sql(budget: int = 10_000) -> str:
    """Independent DuckDB twin of webstats.crawl_budget: regexp host
    extraction (vs Spark's parse_url) and the same largest-remainder
    integer apportionment expressed with // and % over CTEs."""
    return f"""WITH u AS (
  SELECT {_SYNTH_URL} AS url FROM documents
),
h AS (
  -- non-matching urls extract '' (Spark side: parse_url NULL,
  -- filtered): drop them so no phantom host claims quota
  SELECT regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host,
         count(*) AS n_pages
  FROM u
  WHERE regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) <> ''
  GROUP BY 1
),
t AS (SELECT sum(n_pages) AS total FROM h),
b AS (
  SELECT host, n_pages,
    ({budget} * n_pages) // total AS base,
    ({budget} * n_pages) % total AS rem
  FROM h, t
),
l AS (SELECT {budget} - sum(base) AS leftover FROM b),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, host ASC) AS rk
  FROM b
)
SELECT host, n_pages,
  CAST(base + CASE WHEN rk <= (SELECT leftover FROM l)
                   THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM r"""


def dedup_kcore_sql(k: int = 2, unroll: int = 8) -> str:
    """Independent DuckDB twin of graph.kcore over the MinHash
    candidate-pair graph: the peel loop unrolled to ``unroll`` rounds
    (peeling is idempotent at the fixpoint, so any unroll >= the true
    peeling depth — 2 at the gate SFs, pinned in tests — is exact)."""
    ctes = [
        f"pairs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM"
        f" ({_MINHASH_PAIRS_SELECT}))",
        "e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs"
        " WHERE doc_a <> doc_b"
        " UNION SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b)",
    ]
    # each level references the previous one three times: MATERIALIZED
    # keeps the expansion linear (inlining would re-plan the minhash
    # scan 3^unroll times and exhaust file handles)
    for i in range(1, unroll + 1):
        p = f"e{i-1}"
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT a FROM {p} GROUP BY a"
            f" HAVING count(*) >= {k})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM {p}"
            f" WHERE a IN (SELECT a FROM k{i})"
            f" AND b IN (SELECT a FROM k{i}))"
        )
    return (
        f"WITH {_minhash_ctes()}, " + ", ".join(ctes)
        + f" SELECT a AS node, count(*) AS core_deg"
        f" FROM e{unroll} GROUP BY 1"
    )


def dedup_coreness_sql(unroll: int = 6) -> str:
    """Independent DuckDB twin of graph.coreness over the MinHash
    candidate-pair graph: the h-index iteration unrolled to ``unroll``
    rounds (monotone and idempotent at the fixpoint — any unroll >=
    the true convergence depth, 2 at the gate SFs, is exact), H-index
    expressed as list_sort DESC + zip-with-rank filter count."""
    ctes = [
        f"pairs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM"
        f" ({_MINHASH_PAIRS_SELECT}))",
        "e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs"
        " WHERE doc_a <> doc_b"
        " UNION SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b)",
        "h0 AS MATERIALIZED (SELECT a AS node,"
        " CAST(count(*) AS BIGINT) AS h FROM e0 GROUP BY 1)",
    ]
    for i in range(1, unroll + 1):
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT node,"
            " CAST(len(list_filter(list_zip(hs,"
            " generate_series(1, len(hs))),"
            " p -> p[1] >= p[2])) AS BIGINT) AS h FROM"
            " (SELECT e.a AS node, list_sort(list(v.h), 'DESC') AS hs"
            f" FROM e0 e JOIN h{i-1} v ON v.node = e.b"
            " GROUP BY e.a))"
        )
    return (
        f"WITH {_minhash_ctes()}, " + ", ".join(ctes)
        + f" SELECT node, h AS coreness FROM h{unroll}"
    )


def cooccur_sql(min_support: int = 5) -> str:
    """Independent DuckDB twin of textstats.cooccur_pairs: same
    distinct (doc, word) → df prune → per-doc self-join → pair
    support, lift as the same single division."""
    return f"""WITH dw AS MATERIALIZED (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id,
      unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
dfw AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY 1
  HAVING count(*) >= {min_support}
),
pruned AS MATERIALIZED (
  SELECT dw.doc_id, dw.w, dfw.df FROM dw JOIN dfw USING (w)
)
SELECT a.w AS w1, b.w AS w2,
  CAST(count(*) AS BIGINT) AS n_pair,
  a.df AS df1, b.df AS df2,
  round(CAST(count(*) AS BIGINT) * (SELECT n_docs FROM n)
        / (a.df * b.df), 6) AS lift
FROM pruned a JOIN pruned b
  ON a.doc_id = b.doc_id AND a.w < b.w
GROUP BY 1, 2, 4, 5
HAVING count(*) >= {min_support}"""


def cross_source_sql() -> str:
    """Independent DuckDB twin of dedup.cross_source_pairs: the shared
    minhash pair CTEs + source joins + least/greatest canonical key."""
    return f"""WITH {_minhash_ctes()},
pairs AS MATERIALIZED (
  SELECT DISTINCT doc_a, doc_b FROM ({_MINHASH_PAIRS_SELECT})
),
ab AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b,
    least(da.source, db.source) AS source_a,
    greatest(da.source, db.source) AS source_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
np AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
  FROM ab GROUP BY 1, 2
),
nd AS (
  SELECT source_a, source_b,
    CAST(count(DISTINCT d) AS BIGINT) AS n_docs
  FROM (
    SELECT source_a, source_b, doc_a AS d FROM ab
    UNION ALL
    SELECT source_a, source_b, doc_b FROM ab
  ) GROUP BY 1, 2
)
SELECT np.source_a, np.source_b, np.n_pairs, nd.n_docs,
  np.source_a <> np.source_b AS cross_source
FROM np JOIN nd USING (source_a, source_b)"""


def matryoshka_sql(dims=(16, 32)) -> str:
    """Independent DuckDB twin of similarity.matryoshka_audit: same
    list_dot_product folds, sqrt, micro-tick HALF_UP scaling and
    exact-integer group sums."""
    dlist = ", ".join(str(int(d)) for d in dims)
    return f"""WITH base AS (
  SELECT label, embedding,
    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
      AS full_sq
  FROM embeddings
),
ex AS (
  SELECT label, dd.d,
    CAST(round(CASE WHEN full_sq > 0 THEN sqrt(
      list_dot_product(embedding[1:dd.d]::DOUBLE[],
                       embedding[1:dd.d]::DOUBLE[]) / full_sq)
    END * 1000000) AS BIGINT) AS ticks
  FROM base, (SELECT unnest([{dlist}]) AS d) dd
)
SELECT label, d,
  CAST(count(ticks) AS BIGINT) AS n_vecs,
  round(sum(ticks) / (count(ticks) * 1000000), 6) AS mean_energy,
  round(min(ticks) / 1000000, 6) AS min_energy
FROM ex GROUP BY 1, 2"""


def effective_tokens_sql() -> str:
    """Independent DuckDB twin of textstats.effective_tokens: the
    recursive-CTE cluster oracle nested as a subquery + the same
    exact-BIGINT token sums and single share division."""
    t = _count_re("text", TOKEN_RE)
    return f"""WITH k AS MATERIALIZED (
  SELECT doc_id, is_keeper FROM ({dedup_clusters_sql()})
),
t AS (
  SELECT doc_id, source, CAST({t} AS BIGINT) AS t FROM documents
)
SELECT t.source,
  CAST(count(*) AS BIGINT) AS docs,
  CAST(sum(CASE WHEN k.is_keeper THEN 0 ELSE 1 END) AS BIGINT)
    AS docs_dropped,
  CAST(sum(t.t) AS BIGINT) AS tokens_raw,
  CAST(sum(CASE WHEN k.is_keeper THEN t.t ELSE 0 END) AS BIGINT)
    AS tokens_kept,
  CASE WHEN sum(t.t) > 0 THEN
    round(1 - sum(CASE WHEN k.is_keeper THEN t.t ELSE 0 END)
              / sum(t.t), 6) END AS dup_token_share
FROM t JOIN k USING (doc_id)
GROUP BY 1"""


def degree_dist_sql() -> str:
    """Independent DuckDB twin of graph.degree_distribution over the
    events link graph: same float-free length(bin(deg))-1 bucketing,
    bounds via BIGINT shifts."""
    nv = "(SELECT count(DISTINCT user_id) FROM events)"
    return f"""WITH e AS (
  SELECT DISTINCT user_id AS s, event_id % {nv} AS d FROM events
),
ee AS (SELECT s, d FROM e WHERE s <> d),
degs AS (
  SELECT 'out' AS direction, s AS node, CAST(count(*) AS BIGINT) AS deg
  FROM ee GROUP BY 2
  UNION ALL
  SELECT 'in', d, CAST(count(*) AS BIGINT) FROM ee GROUP BY 2
),
b AS (
  SELECT direction, CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
         deg
  FROM degs
)
SELECT direction, bucket,
  CAST(count(*) AS BIGINT) AS n_nodes,
  min(deg) AS min_deg, max(deg) AS max_deg,
  CAST(1::BIGINT << bucket AS BIGINT) AS deg_lo,
  CAST((1::BIGINT << (bucket + 1)) - 1 AS BIGINT) AS deg_hi
FROM b GROUP BY 1, 2"""
