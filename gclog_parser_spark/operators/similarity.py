"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — exact brute-force top-k: `F.aggregate`/`zip_with`
  dot products, fully JVM-side.  This is the correctness baseline and
  the right plan when the query set is small (broadcast the queries,
  scan the corpus once).
* ``lsh_bucket_topk`` — the scale path: random-hyperplane LSH.  Plane
  components are deterministic literals (seeded in Python, shared with
  the DuckDB oracle), bucket = sign bits; candidate generation is an
  equi-join on the bucket id, so shuffle volume ∝ corpus, not pairs.
* ``neardup_pairs`` — embedding-cosine near-duplicate pairs within a
  blocking key (label), the standard blocked-similarity-join shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: deterministic pseudo-random hyperplanes (seeded linear congruential
#: generator — literal-stable across engines and sessions)
N_PLANES = 8
EMB_DIM = 64


def _lcg(seed: int):
    x = seed
    while True:
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        yield (x >> 33) / float(1 << 31) - 1.0  # in [-1, 1)


def plane_components(dim: int = EMB_DIM, seed: int = 42):
    g = _lcg(seed)
    return [
        [round(next(g), 6) for _ in range(dim)] for _ in range(N_PLANES)
    ]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cos_sim(a, b):
    """Rounded cosine similarity; NULL when either vector has zero norm
    (web-scale corpora DO contain all-zero embeddings, and under ANSI
    mode a bare 0/0 aborts the whole scan).  NULLs sort last under the
    DESC orderings here — identical in DuckDB (default_null_order
    nulls_last)."""
    denom = _norm(a) * _norm(b)
    return F.when(
        denom != 0, F.round(_dot(a, b) / denom, 6)
    )


def _bucket_pairs_pd():
    """Per-BUCKET candidate scorer for ``knn_graph``/``neardup_pairs``:
    an ``applyInPandas`` group map that receives one LSH bucket's
    vectors and emits every ordered candidate pair's (dot, norm-a,
    norm-b) SCALARS.  Unlike a bucket self-join:

    * the exchange carries each vector ONCE (corpus-sized), not once
      per candidate pair — at b vectors/bucket that is a b× cut in
      shuffled embedding bytes, the dominant IO at production dims;
    * the output rows are 5 scalars, not two full embedding arrays.

    Bit-parity discipline: the pair dot accumulates as a rank-1-update
    left fold over dimensions (one vectorized n×n add per dim — the
    same element order as the ``_dot`` HOF per pair), and norms use
    the same per-dim fold as ``_norm``; division and round(6) stay
    JVM-side.  Memory is O(bucket²) doubles — bounded by LSH occupancy
    (corpus/2^planes), never by a data-supplied attribute."""
    import numpy as np
    import pandas as pd

    def _pairs(pdf):
        empty = pd.DataFrame(
            {"src": pd.Series([], dtype="int64"),
             "dst": pd.Series([], dtype="int64"),
             "dot": pd.Series([], dtype="float64"),
             "na": pd.Series([], dtype="float64"),
             "nb": pd.Series([], dtype="float64")}
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(
            np.float64, copy=False
        )
        acc = np.zeros(n, dtype=np.float64)
        dots = np.zeros((n, n), dtype=np.float64)
        tmp = np.empty((n, n), dtype=np.float64)
        for j in range(m.shape[1]):
            col = m[:, j]
            acc = acc + col * col
            np.multiply(col[:, None], col[None, :], out=tmp)
            np.add(dots, tmp, out=dots)
        nrm = np.sqrt(acc)
        src, dst = np.nonzero(~np.eye(n, dtype=bool))
        return pd.DataFrame(
            {"src": ids[src], "dst": ids[dst],
             "dot": dots[src, dst], "na": nrm[src], "nb": nrm[dst]}
        )

    return _pairs


def _bucket_pair_sims(base: DataFrame, key: str) -> DataFrame:
    """(src, dst, sim) for every ordered pair of distinct vectors of
    ``base`` (vec_id, embedding, ``key``) that share a ``key`` value,
    scored in the `_bucket_pairs_pd` group map; division and round(6)
    stay JVM-side, NULL on a zero norm as in ``_cos_sim``.

    NULL keys (dim-mismatched / NaN-bearing vectors under the
    fail-EMPTY ``lsh_buckets`` rule) are dropped BEFORE the group map:
    groupBy keeps NULL as one group, so every degenerate vector would
    collapse into a single O(n²) candidate group — exactly the blow-up
    fail-EMPTY exists to prevent."""
    pairs = (
        base.where(F.col(key).isNotNull())
        .groupBy(key)
        .applyInPandas(
            _bucket_pairs_pd(),
            "src long, dst long, dot double, na double, nb double",
        )
    )
    denom = F.col("na") * F.col("nb")
    return pairs.select(
        "src",
        "dst",
        F.when(denom != 0, F.round(F.col("dot") / denom, 6)).alias("sim"),
    )


def cosine_topk(emb: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to the embedding of
    vector 0 (excluded from results).  Deterministic ordering:
    (rounded sim desc, vec_id asc)."""
    corpus = emb.where(F.col("vec_id") != 0)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "vec_id",
        _cos_sim(F.col("embedding"), F.col("q")).alias("sim"),
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "sim")
    )


def lsh_buckets(
    emb: DataFrame, seed: int = 42, dim: int = EMB_DIM
) -> DataFrame:
    """(vec_id, bucket) — bucket = sign-bit string of the hyperplane
    dot products.  ``dim`` MUST match the embedding width: a mismatch
    makes ``zip_with`` pad with NULL and the dot go NULL, and the bit
    rule below propagates that NULL into the bucket so the downstream
    equi-join drops the row (fail-EMPTY).  The old ``otherwise("0")``
    rule instead collapsed every mismatched vector into one bucket —
    a silent O(n²) candidate blow-up, the worst possible failure mode
    at 10^9 vectors."""
    planes = plane_components(dim=dim, seed=seed)
    bits = []
    for p in planes:
        lit = F.array(*[F.lit(c) for c in p])
        d = _dot(F.col("embedding"), lit)
        bits.append(
            F.when(d >= 0, F.lit("1")).when(d < 0, F.lit("0"))
        )
    return emb.select(
        "vec_id", "embedding", F.concat(*bits).alias("bucket")
    )


def lsh_bucket_topk(emb: DataFrame) -> DataFrame:
    """Approximate top-5 for vector 0: exact cosine, but only within
    the query's LSH bucket — the candidate set an IVF/LSH index would
    scan."""
    b = lsh_buckets(emb)
    q = b.where(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"),
        F.col("embedding").alias("q"),
    )
    cand = b.join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    ).where(F.col("vec_id") != 0)
    scored = cand.select(
        "vec_id",
        _cos_sim(F.col("embedding"), F.col("q")).alias("sim"),
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "sim")
    )


#: IVF coarse quantizer: deterministic pseudo-random centroids (same
#: LCG as the LSH planes, different seed) — literal-stable across
#: engines so the DuckDB oracle replicates assignment exactly.
N_CELLS = 8


def centroid_components(seed: int = 7):
    g = _lcg(seed)
    return [
        [round(next(g), 6) for _ in range(EMB_DIM)] for _ in range(N_CELLS)
    ]


def ivf_assign(emb: DataFrame, cents=None) -> DataFrame:
    """(vec_id, embedding, cell) — cell = argmax over centroids of the
    dot product (spherical coarse quantization).  Computed scan-side;
    at 10^12 scale the assignment is a one-pass projection and the
    cell becomes the table's partition key.

    ``cents``: explicit centroid components (e.g. from ``ivf_train``);
    defaults to the deterministic pseudo-random quantizer."""
    cents = cents if cents is not None else centroid_components()
    scores = [
        _dot(F.col("embedding"), F.array(*[F.lit(c) for c in cent]))
        for cent in cents
    ]
    best = F.greatest(*scores)
    cell = F.lit(len(cents) - 1)
    for j in range(len(cents) - 2, -1, -1):  # earliest cell wins ties
        cell = F.when(scores[j] == best, F.lit(j)).otherwise(cell)
    return emb.select(
        "vec_id", "embedding", cell.cast("int").alias("cell")
    )


def ivf_train(emb: DataFrame, iters: int = 2):
    """Spherical k-means for the IVF coarse quantizer (Dhillon & Modha
    2001): deterministic LCG init → repeat (assign to argmax-dot cell,
    recompute centroid as the NORMALIZED member mean, rounded to 6 dp).
    The normalization is what makes the dot-product objective monotone
    non-decreasing across iterations (the unit vector maximizing
    Σ⟨xᵢ, μ⟩ is the normalized mean); a raw mean would shrink centroid
    norms and break the guarantee.  Returns the trained centroid
    component lists (k × dim Python floats).

    Spark shape per iteration: scan-side assignment (literal argmax —
    no join), then ONE shuffle of (cell, pos) partial sums via
    posexplode + two-phase hash aggregate; the k×dim result (512 values
    here) collects to the driver and broadcasts back as literals for
    the next pass — the canonical k-means-on-Spark loop, linear scans
    and O(k·dim) driver state at any corpus size.  The 6-dp rounding
    makes every iteration's centroids portable across engines (the
    DuckDB oracle re-derives them value-for-value); empty cells and
    zero-norm means keep their previous centroid."""
    import math

    from gclog_parser_spark.core import half_up

    cents = centroid_components()
    for _ in range(iters):
        assigned = ivf_assign(emb, cents=cents)
        stats = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in stats:
            means.setdefault(r["cell"], {})[r["pos"]] = r["s"] / r["n"]
        new = []
        for c in range(N_CELLS):
            m = means.get(c)
            norm = (
                math.sqrt(sum(v * v for v in m.values())) if m else 0.0
            )
            if not m or norm == 0.0:
                new.append(cents[c])  # empty/degenerate cell
            else:
                new.append(
                    [half_up(m[p] / norm, 6) for p in range(EMB_DIM)]
                )
        cents = new
    return cents


def _query_probes(
    emb: DataFrame, query_vec_id: int, cents, n_probe: int
) -> DataFrame:
    """The query's top-``n_probe`` IVF cells as a one-row-per-cell
    relation ``(q, cell)`` (q = the query embedding, threaded through
    for the HOF scorer).  Computed on the single query row.  Sort key
    is (-score, cell) ASCENDING so tied scores break to the LOWEST
    cell — identical to the oracle's ORDER BY s DESC, cell ASC
    (reverse(array_sort) would pick the highest cell on ties)."""
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q")
    )
    qscores = q.select(
        "q",
        *[
            _dot(F.col("q"), F.array(*[F.lit(c) for c in cent])).alias(
                f"qs{j}"
            )
            for j, cent in enumerate(cents)
        ],
    )
    score_arr = F.array(
        *[
            F.struct(
                (-F.col(f"qs{j}")).alias("neg_s"), F.lit(j).alias("cell")
            )
            for j in range(len(cents))
        ]
    )
    return qscores.select(
        "q",
        F.slice(F.array_sort(score_arr), 1, n_probe).alias("top"),
    ).select("q", F.explode("top.cell").alias("cell"))


def ivf_topk(emb: DataFrame, cents=None) -> DataFrame:
    """IVF approximate top-5 for query vector 0: exact cosine, but only
    within the 2 cells whose centroids score highest for the query —
    the inverted-file candidate set.  Candidate generation is an
    equi-join on the cell id (shuffle ∝ corpus, never ∝ pairs); at
    scale the cells are partition-pruned instead of joined.
    ``cents`` swaps in trained centroids (``ivf_train``)."""
    cents = cents if cents is not None else centroid_components()
    assigned = ivf_assign(emb, cents=cents)
    probes = _query_probes(emb, 0, cents, 2)
    cand = assigned.join(F.broadcast(probes), "cell").where(
        F.col("vec_id") != 0
    )
    scored = cand.select(
        "vec_id",
        _cos_sim(F.col("embedding"), F.col("q")).alias("sim"),
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "sim")
    )


def neardup_pairs(
    emb: DataFrame, threshold: float = 0.9, seed: int = 42
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within an LSH bucket.

    Blocking is the LSH bucket (``lsh_buckets``): block size is
    bounded by bucket occupancy (corpus/2^planes in expectation), never
    by any data-supplied attribute — a hot ``label`` would make an
    attribute block O(n²) at 10^12 scale.  True near-dups (cos ≥ 0.9)
    land in the same sign-bit bucket with high probability; for more
    recall union the pairs from a few ``seed`` values (independent
    plane sets), exactly like multi-band MinHash-LSH.

    Pairs are scored per block inside the Arrow group map
    (`_bucket_pairs_pd`): each vector crosses the exchange once, only
    scalar rows come back, and the rank-1-update left folds keep the
    sums bit-identical to the ``_cos_sim`` expression the DuckDB
    oracle mirrors; division and round(6) stay JVM-side."""
    base = lsh_buckets(emb, seed).select(
        "vec_id", "embedding", F.col("bucket").alias("block")
    )
    return (
        _bucket_pair_sims(base, "block")
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            "sim",
        )
        .where(F.col("sim") >= threshold)
    )


def neardup_pairs_multiband(emb: DataFrame) -> DataFrame:
    """Multi-band near-dup at cosine >= 0.9: union the LSH-blocked pair
    sets of three independent plane sets (seeds 42, 1042, 2042) and
    dedup — the multi-band MinHash-LSH recall amplifier.  A true
    near-dup pair missed by one plane set (split by an unlucky
    hyperplane) is caught by another; false negatives decay
    exponentially with the band count while shuffle cost grows only
    linearly (one blocked join per seed — still never O(n²)).  Dedup is
    one exact groupBy on (vec_a, vec_b)."""
    out = None
    for s in (42, 1042, 2042):
        part = neardup_pairs(emb, seed=s)
        out = part if out is None else out.unionByName(part)
    return out.groupBy("vec_a", "vec_b").agg(
        F.first("sim").alias("sim")
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the 4x memory/bandwidth cut that makes a 10^12-vector corpus scan
    affordable (int8 rows stream 4x faster off parquet and 4x more of
    the corpus fits in executor cache; SIMD int8 dot products beat
    fp32 on modern CPUs).

    Per vector: ``scale = max(|x_i|)`` and ``q_i = round(x_i * 127 /
    scale)`` (half-away-from-zero in BOTH engines — Spark ``F.round``
    HALF_UP == DuckDB ``round``), stored as ``array<tinyint>`` so the
    4x is real on disk and over Arrow, not just notional.  All-zero
    vectors quantize to zeros with scale 0 (the same zero-norm guard
    the cosine scorers use).  Pure codegen array expressions:
    scan-side, zero shuffle, no Python."""
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    qvec = F.when(F.col("scale") == 0,
                  F.transform(
                      F.col("embedding"),
                      lambda x: F.lit(0).cast("byte"),
                  )
           ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(
                x.cast("double") * 127.0 / F.col("scale")
            ).cast("byte"),
        )
    )
    return (
        emb.withColumn("scale", scale)
        .withColumn("qvec", qvec)
        .select("vec_id", "label", "scale", "qvec")
    )


def _cos_sim_np_int8(q_qvec):
    """Arrow/numpy scorer over the int8 ``qvec`` column — the
    production scan for a quantized corpus: the Arrow transfer moves
    1/4 the bytes of fp32 and the matvec runs in float32 BLAS.
    Bench-path only (float32 accumulation order differs from the
    double HOF at ~1e-7 — the HOF expression stays the oracle-parity
    scorer)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(q_qvec, dtype=np.float32)
    qnorm = float(np.sqrt((q * q).sum()))

    def _sim(col):
        if len(col) == 0:
            return pd.Series([], dtype="float64")
        m = np.stack(col.to_numpy()).astype(np.float32, copy=False)
        denom = np.sqrt((m * m).sum(axis=1)) * qnorm
        out = np.full(len(col), np.nan)
        ok = denom != 0
        # matvec in float32 (the bandwidth/SIMD win), divide + round in
        # float64 so the 6-dp sims are clean doubles
        out[ok] = np.round(
            (m[ok] @ q).astype(np.float64) / denom[ok].astype(np.float64),
            6,
        )
        return pd.Series(out)

    return pandas_udf(_sim, "double")


def quantized_scan_topk(qz: DataFrame) -> DataFrame:
    """Top-10 for query vector 0 over an ALREADY-quantized table
    (``quantize_embeddings`` output, e.g. the int8 parquet a pipeline
    materializes once and scans many times) with the numpy int8 scorer
    — the steady-state ANN serving scan: 4x less parquet read + Arrow
    transfer than the fp32 corpus."""
    row = qz.where(F.col("vec_id") == 0).select("qvec").head()
    if row is None:
        raise ValueError("query vec_id 0 not found")
    corpus = qz.where(F.col("vec_id") != 0)
    return (
        corpus.select(
            "vec_id",
            _cos_sim_np_int8(list(row["qvec"]))(F.col("qvec")).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )


def quantized_topk(emb: DataFrame) -> DataFrame:
    """Exact top-10 cosine for query vector 0 over the int8-quantized
    corpus — the
    memory-bound production variant of ``cosine_topk``.  The integer
    dot products (|q_i| <= 127, so a 4096-dim dot < 2^31) are exact in
    double arithmetic, which is what makes this bit-parity with the
    DuckDB oracle: no float accumulation order to disagree on.
    Cosine of the quantized vectors is scale-free (the per-vector
    scales cancel), so sim_q approximates the fp32 sim with ~1e-2
    error (measured per corpus by ``quantization_error``).
    Deterministic order: (rounded sim desc, vec_id asc)."""
    qz = quantize_embeddings(emb)
    q = qz.where(F.col("vec_id") == 0).select(F.col("qvec").alias("q"))
    corpus = qz.where(F.col("vec_id") != 0)
    sim = _cos_sim(F.col("qvec"), F.col("q"))
    return (
        corpus.crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )


def quantization_error(emb: DataFrame) -> DataFrame:
    """Corpus-level int8 reconstruction audit: per label, the mean and
    max absolute error of ``q_i * scale / 127`` vs the fp32 value,
    plus the worst per-vector relative error.  One partial-aggregated
    exchange on the (tiny) label key — the quality gate a pipeline
    runs once after quantizing a corpus shard.  Single scan: quantize
    and reconstruct in the same projection, no self-join."""
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    recon_err = F.when(
        F.col("scale") == 0, F.lit(0.0)
    ).otherwise(
        F.array_max(
            F.transform(
                F.col("embedding"),
                lambda x: F.abs(
                    F.round(x.cast("double") * 127.0 / F.col("scale"))
                    * F.col("scale") / 127.0
                    - x.cast("double")
                ),
            )
        )
    )
    return (
        emb.withColumn("scale", scale)
        .select("label", "scale", recon_err.alias("max_abs_err"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("max_abs_err"), 6).alias("mean_max_err"),
            F.round(F.max("max_abs_err"), 6).alias("worst_err"),
            F.round(F.max(
                F.when(F.col("scale") != 0,
                       F.col("max_abs_err") / F.col("scale"))
            ), 6).alias("worst_rel_err"),
        )
    )


def ann_recall_at_k(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    method: str = "lsh",
) -> DataFrame:
    """Recall@k of an approximate retrieval path vs exact cosine — the
    quality metric every ANN deployment monitors (is the index still
    good enough after a re-embed / re-shard / compression change?).

    ``method='lsh'``: candidates = the query's single LSH bucket (the
    recall a one-band index actually delivers — near zero on weakly
    clustered corpora, which is WHY multiband exists).
    ``method='int8'``: candidates = the full corpus ranked by
    quantized int8 cosine — recall loss here is pure quantization
    error re-ordering the boundary of the top-k.

    Fully set-based over all probe queries at once: the tiny query
    relation broadcasts against the corpus for both rankings (one scan
    each, per-query window top-k), recall is a left-semi hit count —
    no per-query driver loop, so probing with 10^4 queries costs the
    same shape as 3.  Deterministic: sims round to 6 dp with vec_id
    tie-break, matching every other ANN oracle here.

    Returns (query_id, n_exact, n_hit, recall)."""
    from pyspark.sql import Window

    q = F.broadcast(
        emb.where(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q"),
        )
    )
    exact_scored = (
        emb.crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cos_sim(F.col("embedding"), F.col("q")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    exact = (
        exact_scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )
    if method == "lsh":
        b = lsh_buckets(emb)
        qb = F.broadcast(
            b.where(F.col("vec_id").isin(query_ids)).select(
                F.col("vec_id").alias("query_id"),
                F.col("bucket").alias("qbucket"),
                F.col("embedding").alias("q"),
            )
        )
        cand = (
            b.join(qb, F.col("bucket") == F.col("qbucket"))
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                _cos_sim(F.col("embedding"), F.col("q")).alias("sim"),
            )
        )
    elif method == "int8":
        qz = quantize_embeddings(emb)
        qq = F.broadcast(
            qz.where(F.col("vec_id").isin(query_ids)).select(
                F.col("vec_id").alias("query_id"),
                F.col("qvec").alias("q"),
            )
        )
        cand = (
            qz.crossJoin(qq)
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                _cos_sim(F.col("qvec"), F.col("q")).alias("sim"),
            )
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    approx = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )
    hits = approx.join(exact, ["query_id", "vec_id"], "left_semi")
    per_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


#: integer-tick resolution for cross-row centroid sums (exact in both
#: engines — no float accumulation order to disagree on)
CENTROID_TICKS = 1 << 24


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label embedding centroid statistics — the drift/cohesion
    monitor a serving pipeline runs after every re-embed: ``n_vecs``,
    the centroid's norm, the mean member norm, and ``cohesion`` =
    centroid_norm / mean_norm (the resultant length — 1.0 when all
    members point the same way, →0 as the label's vectors scatter).

    Determinism discipline: every CROSS-ROW sum is integer —
    components quantize to ``CENTROID_TICKS`` ticks and norms to 1e-6
    ticks (the PageRank integer-tick trick), so the per-(label,pos)
    and per-label aggregates are exact BIGINTs in both engines and no
    float accumulation order can disagree.  The only float folds are
    WITHIN one ordered array (centroid components ordered by pos —
    the same sequential-fold-vs-list_aggregate precedent as the
    cosine scorers) and they round to 6 dp.

    Scale shape: posexplode scan-side, ONE (label,pos)
    partial-aggregated exchange (∝ labels×dims rows — tiny), one
    label-key norm rollup, broadcast-joined; never a per-pair or
    per-vector-squared term.  Returns (label, n_vecs, centroid_norm,
    mean_norm, cohesion)."""
    t = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.round(F.col("x").cast("double") * CENTROID_TICKS)
        .cast("long")
        .alias("tk"),
    )
    per = t.groupBy("label", "pos").agg(F.sum("tk").alias("s"))
    comp = F.transform(
        F.col("a"),
        lambda st: st["s"]
        / F.col("n_vecs")
        / F.lit(float(CENTROID_TICKS)),
    )
    cent = (
        per.join(
            F.broadcast(
                emb.groupBy("label").agg(
                    F.count("*").alias("n_vecs"),
                    F.sum(
                        F.round(
                            _norm(F.col("embedding")) * 1e6
                        ).cast("long")
                    ).alias("norm_ticks"),
                )
            ),
            "label",
        )
        .groupBy("label", "n_vecs", "norm_ticks")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("a"))
        .withColumn(
            "centroid_norm",
            F.sqrt(
                F.aggregate(
                    comp, F.lit(0.0), lambda acc, v: acc + v * v
                )
            ),
        )
        .withColumn(
            "mean_norm",
            F.col("norm_ticks") / F.col("n_vecs") / F.lit(1e6),
        )
    )
    return cent.select(
        "label",
        "n_vecs",
        F.round("centroid_norm", 6).alias("centroid_norm"),
        F.round("mean_norm", 6).alias("mean_norm"),
        F.round(
            F.when(
                F.col("mean_norm") != 0,
                F.col("centroid_norm") / F.col("mean_norm"),
            ),
            6,
        ).alias("cohesion"),
    ).orderBy("label")


#: ticks per unit for the random-projection quantization (1e6 = the
#: repo-wide 6-dp convention; component sums stay far inside int64)
SRP_TICKS = 1_000_000


def _srp_sign(i: int, j: int) -> int:
    """±1 from the first md5 hex nibble of ``"i:j"`` — the same string
    md5 both engines (and CPython's hashlib) expose, so the 'random'
    matrix is a pure function of (i, j), never shipped, never stored."""
    import hashlib

    h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0]
    return 1 if h in "02468ace" else -1


def srp_project(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = EMB_DIM,
) -> DataFrame:
    """Signed random projection (Achlioptas/JL): ``proj[j] = Σ_i
    sign(i,j)·emb[i]`` — the dimensionality-reduction front end of
    SRP-LSH and the cheapest honest JL transform (the dense Gaussian
    needs a stored matrix; the sign matrix is a hash).

    Determinism discipline: components quantize to ``SRP_TICKS`` ticks
    first (HALF_UP, exactly F.round = DuckDB round), then every
    cross-term is INTEGER — the int64 matmul is exact, so float
    accumulation order cannot disagree with the oracle.  Output is
    long-form ``(vec_id, j, pt)`` — out_dim rows per vector of exact
    BIGINT projection ticks.

    Plan: one Arrow batch int64 matmul per partition (``mapInPandas``),
    no join, no explode, no exchange — the scan shape a 100 TB
    re-embed job wants.
    """
    import numpy as np

    S = np.array(
        [
            [_srp_sign(i, j) for j in range(out_dim)]
            for i in range(in_dim)
        ],
        dtype=np.int64,
    )

    def _proj(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m *= SRP_TICKS
            # half-away-from-zero, exactly F.round/DuckDB round(): for
            # |v| < 2^51 the +0.5 is representable so floor(|v|+0.5)
            # IS the HALF_UP result (ticks here are ≤ a few 1e6).
            # Quantizing in numpy (not a 512-element HOF transform
            # JVM-side) keeps the scan Arrow-speed: the interpreted
            # per-element path costs ~5× the whole matmul.
            tk = np.copysign(np.floor(np.abs(m) + 0.5), m).astype(
                np.int64
            )
            p = tk @ S  # exact: int64 × {±1}
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(out_dim),
                    "j": np.tile(np.arange(out_dim, dtype=np.int32), n),
                    "pt": p.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        _proj, "vec_id long, j int, pt long"
    )


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------

#: PQ layout: M subspaces × ks centroids; 64-dim → 4 × 16-dim subvectors
PQ_M = 4
PQ_KS = 8
PQ_SUB = EMB_DIM // PQ_M
PQ_TICKS = 1_000_000


def _pq_tick(x: float) -> int:
    """Half-away-from-zero at tick precision — F.round / DuckDB round
    twin (exact for |v| < 2^51; ticks here are ≤ a few 1e6)."""
    import math

    v = x
    return int(math.copysign(math.floor(abs(v) + 0.5), v))


def _pq_assign_np(cents, sub: int):
    """The PQ cell assignment, as an Arrow UDF returning one code per
    subspace: integer-tick L2 per subspace with int64 matmul, argmin
    picking the LOWEST cell on ties (np.argmin returns the first
    minimum — the oracle's row_number ORDER BY d, cell).  Ticks
    replicate Spark's HALF_UP round (sign·floor(|x|+0.5)), so the
    distances are the exact BIGINTs the oracle computes.  A UDF and not
    a literal expression tree, because that tree costs hundreds of
    py4j round-trips to build."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype=np.int64)  # (M, ks, sub)
    c2 = (C * C).sum(axis=2)  # (M, ks)

    def assign(embs):
        arr = np.vstack(embs.to_numpy()).astype(np.float64)
        x = arr * PQ_TICKS
        T = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
        n = T.shape[0]
        out = np.empty((n, C.shape[0]), dtype=np.int32)
        for m in range(C.shape[0]):
            Xm = T[:, m * sub:(m + 1) * sub]
            d = (
                (Xm * Xm).sum(axis=1, keepdims=True)
                - 2 * Xm @ C[m].T
                + c2[m][None, :]
            )
            out[:, m] = d.argmin(axis=1)
        return pd.Series(list(out))

    # module-wide `from __future__ import annotations` stringifies
    # inline hints, which pandas_udf cannot resolve — set real ones
    assign.__annotations__ = {"embs": pd.Series, "return": pd.Series}
    return pandas_udf("array<int>")(assign)


def pq_init(emb: DataFrame) -> list[list[list[int]]]:
    """Deterministic init: centroid j of every subspace = the
    tick-quantized subvector of vec_id j (the first ks vectors) —
    closed-form in SQL, no RNG.  Returns cents[m][cell][i] ticks."""
    rows = {
        r["vec_id"]: r["embedding"]
        for r in emb.where(F.col("vec_id") < PQ_KS)
        .select("vec_id", "embedding")
        .collect()
    }
    return [
        [
            [
                _pq_tick(float(rows[j][m * PQ_SUB + i]) * PQ_TICKS)
                for i in range(PQ_SUB)
            ]
            for j in range(PQ_KS)
        ]
        for m in range(PQ_M)
    ]


def pq_train(emb: DataFrame, iters: int = 2) -> list[list[list[int]]]:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): an
    independent L2 k-means per subspace, all M subspaces trained in
    the SAME relational pass per iteration (subspace id is just
    another grouping key).

    Determinism discipline — stricter than ``ivf_train``: components
    quantize to integer ticks FIRST, so assignments (integer L2),
    member sums (exact BIGINT, order-free), and the rounded tick means
    are bit-identical across engines and partitionings; the only float
    op per centroid update is one IEEE division.  Spark shape per
    iteration: scan-side Arrow int64 argmin (`_pq_assign_np`, no
    join) → ONE (m, cell, i) partial-sum shuffle (M·ks·sub = 512 rows
    out) → O(M·ks·sub) driver state shipped back in the next UDF
    closure.  Empty cells keep their previous centroid.  Training and
    ``pq_encode`` assign with the same UDF, so the codebooks converge
    on the codes that encoding applies.
    """
    cents = pq_init(emb)
    for _ in range(iters):
        assigns = _pq_assign_np(cents, PQ_SUB)(F.col("embedding"))
        t = emb.select(
            assigns.alias("a"),
            F.posexplode("embedding").alias("pos", "val"),
        ).select(
            (F.col("pos") / PQ_SUB).cast("int").alias("m"),
            F.element_at(
                "a", (F.col("pos") / PQ_SUB).cast("int") + 1
            ).alias("cell"),
            F.pmod("pos", F.lit(PQ_SUB)).cast("int").alias("i"),
            F.round(F.col("val").cast("double") * PQ_TICKS)
            .cast("long")
            .alias("t"),
        )
        stats = (
            t.groupBy("m", "cell", "i")
            .agg(F.sum("t").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        acc: dict = {}
        for r in stats:
            acc.setdefault((r["m"], r["cell"]), {})[r["i"]] = (
                r["s"], r["n"]
            )
        new = []
        for m in range(PQ_M):
            row = []
            for c in range(PQ_KS):
                got = acc.get((m, c))
                if not got:
                    row.append(cents[m][c])  # empty cell
                else:
                    row.append(
                        [
                            _pq_tick(got[i][0] / got[i][1])
                            for i in range(PQ_SUB)
                        ]
                    )
            new.append(row)
        cents = new
    return cents


def pq_encode(emb: DataFrame, cents: list[list[list[int]]]) -> DataFrame:
    """(vec_id, code_0..code_{M-1}): each vector's nearest codebook
    cell per subspace — M·log2(ks) bits per vector (here 4×3 = 12 bits
    vs 2048 for fp32: the 170× compression that lets a 10^12-vector
    index live in RAM).  Scan-side Arrow UDF (`_pq_assign_np`), zero
    shuffle."""
    codes = _pq_assign_np(cents, PQ_SUB)(F.col("embedding"))
    return emb.select("vec_id", codes.alias("a")).select(
        "vec_id", *[F.col("a")[m].alias(f"code_{m}") for m in range(PQ_M)]
    )


def pq_topk(
    emb: DataFrame, cents: list[list[list[int]]], k: int = 10
) -> DataFrame:
    """Asymmetric distance computation (ADC) for vector 0: the query
    stays exact; per subspace a ks-entry lookup table of exact integer
    tick distances query→centroid is built once (O(M·ks·sub) local
    work) and the corpus scan sums M table lookups per vector — no
    per-vector arithmetic in the hot loop at all.  Returns the top-k
    ``(vec_id, pq_dist_ticks)`` by (distance, vec_id)."""
    return _adc_topk(emb, cents, emb, k)


def _adc_topk(df: DataFrame, cents, emb: DataFrame, k: int) -> DataFrame:
    """Shared ADC ranking tail of ``pq_topk``/``ivfpq_topk``: build
    the O(M·ks·sub) driver-side lookup table of exact integer tick
    distances from vector 0 of ``emb`` to each centroid, encode ``df``
    scan-side, and sum M table lookups per vector — no per-vector
    arithmetic in the hot loop.  Returns top-k ``(vec_id,
    pq_dist_ticks)``."""
    q = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    qt = [_pq_tick(float(x) * PQ_TICKS) for x in q]
    lut = [
        [
            sum(
                (qt[m * PQ_SUB + i] - cents[m][c][i]) ** 2
                for i in range(PQ_SUB)
            )
            for c in range(len(cents[m]))
        ]
        for m in range(PQ_M)
    ]
    codes = pq_encode(df, cents)
    dist = None
    for m in range(PQ_M):
        term = F.element_at(F.lit(lut[m]), F.col(f"code_{m}") + 1)
        dist = term if dist is None else dist + term
    return (
        codes.where(F.col("vec_id") != 0)
        .select("vec_id", dist.alias("pq_dist_ticks"))
        .orderBy("pq_dist_ticks", "vec_id")
        .limit(k)
    )


def ivfpq_topk(
    emb: DataFrame, cents_pq, k: int = 10, n_probe: int = 2
) -> DataFrame:
    """IVF-PQ for vector 0: the billion-vector composition (Jégou et
    al. 2011's IVFADC shape, here the no-residual variant faiss calls
    ``by_residual=False``) — a coarse IVF quantizer prunes the corpus
    to the query's ``n_probe`` cells, then PQ asymmetric-distance
    ranking scores ONLY those candidates from 12-bit codes.  This is
    the index layout that makes 10^12-vector search feasible: the
    codes table is ~170× smaller than fp32, the scan touches
    n_probe/n_cells of it, and both halves reuse the pinned exact
    pieces (``ivf_assign``/``_query_probes`` + ``_adc_topk``), so
    cross-engine parity is inherited, not re-proven.

    Plan: cell assignment and PQ encoding are scan-side codegen; the
    probe filter is a broadcast join on cell (at production scale:
    partition pruning on the cell key); ADC is M table lookups per
    candidate; the only exchange is the final TakeOrdered(k).
    Recall follows n_probe exactly as in ``ivf_topk`` — PQ changes
    the metric precision, never the candidate set."""
    cents_ivf = centroid_components()
    assigned = ivf_assign(emb, cents=cents_ivf)
    probes = _query_probes(emb, 0, cents_ivf, n_probe)
    cand = assigned.join(
        F.broadcast(probes.select("cell")), "cell"
    )
    return _adc_topk(cand, cents_pq, emb, k)


def knn_graph(emb: DataFrame, k: int = 3, dim: int = EMB_DIM) -> DataFrame:
    """Approximate k-NN graph: for EVERY vector, its top-k cosine
    neighbors within its LSH bucket — the all-queries generalization of
    ``lsh_bucket_topk`` and the building block for SemDeDup-style
    semantic dedup, embedding clustering, and graph-based retrieval
    indexes (HNSW layer-0 construction starts from exactly this).

    Scale shape: candidates are scored per LSH bucket inside an Arrow
    group map (`_bucket_pairs_pd`) — the exchange carries each vector
    ONCE (corpus-sized) instead of once per candidate pair, only
    scalar (dot, norms) rows come back, and the rank-1-update left
    folds keep the sums bit-identical to the ``_cos_sim`` expression
    the DuckDB oracle mirrors.  Bucket size is bounded by occupancy
    (≈ n/2^planes), never a crossJoin.  Ranking is a per-source
    row_number window whose ``rank <= k`` filter Spark rewrites to
    WindowGroupLimit — map-side partial top-k, so the exchange carries
    ≤ k·n rows, not the full candidate set.  Zero-norm vectors score
    NULL and are excluded (both engines).

    Returns ``(src, dst, sim, rank)``, rank 1-based per src."""
    from pyspark.sql import Window

    b = lsh_buckets(emb, 42, dim=dim).select("vec_id", "embedding", "bucket")
    scored = _bucket_pair_sims(b, "bucket").where(F.col("sim").isNotNull())
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return scored.withColumn(
        "rank", F.row_number().over(w)
    ).where(F.col("rank") <= k)


def matryoshka_audit(embs: DataFrame) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al., NeurIPS 2022):
    per (label, truncation dim d ∈ {16, 32}), how much of each vector's
    energy the d-prefix retains — ``||x[:d]|| / ||x||``, which is exactly
    the cosine between the full vector and its zero-padded truncation. The
    go/no-go read before serving truncated embeddings (MRL-style progressive
    dims) from the same table the full-dim ANN path scans: high retention →
    truncate and quarter the serving bytes, low → the tail dims carry real
    signal for that label.

    Parity discipline: per-vector ratio = ONE sqrt of ONE division of
    two deterministic left-to-right array folds (the `_dot` shape every
    hash-green ANN oracle shares; sqrt is correctly-rounded IEEE,
    unlike log), then HALF_UP-scaled to BIGINT micro-ticks so the
    GROUP sums are exact integers — group aggregation order can never
    perturb the mean.  Zero-norm vectors yield NULL and drop from the
    stats (same guard as ``_cos_sim``).

    Plan: scan-side per-vector folds (no Python), one explode ×
    2 dims, one partial-agged exchange on the tiny (label, d) key;
    output ∝ labels × dims."""
    emb = F.col("embedding")
    base = embs.select(
        "label", "embedding", _dot(emb, emb).alias("full_sq")
    )
    ex = base.select(
        "label",
        "embedding",
        "full_sq",
        F.explode(F.array(F.lit(16), F.lit(32))).alias("d"),
    )
    pre = F.slice(emb, F.lit(1), F.col("d"))
    ratio = F.when(
        F.col("full_sq") > 0, F.sqrt(_dot(pre, pre) / F.col("full_sq"))
    )
    ticks = F.round(ratio * 1000000).cast("long")
    return (
        ex.select("label", "d", ticks.alias("ticks"))
        .groupBy("label", "d")
        .agg(
            F.count("ticks").cast("long").alias("n_vecs"),
            F.round(
                F.sum("ticks") / (F.count("ticks") * F.lit(1000000)), 6
            ).alias("mean_energy"),
            F.round(F.min("ticks") / F.lit(1000000), 6).alias(
                "min_energy"
            ),
        )
    )
