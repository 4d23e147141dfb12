"""Similarity-operator edge cases and scale-shape tests: tie-break
parity with the DuckDB oracle, LSH-bucket blocking for near-dup, the
numpy scorers' parity with the HOF expressions, and the Arrow bucket
scorer's handling of degenerate vectors."""

from __future__ import annotations

import duckdb
import pytest

from gclog_parser_spark.operators.similarity import EMB_DIM, _lcg


@pytest.fixture(scope="module")
def tied_emb(spark, tmp_path_factory):
    """21 embeddings where vec_id 0 (the query) is ALL ZEROS — every
    centroid dot product ties at 0, so the probe-cell choice is pure
    tie-break."""
    g = _lcg(99)
    rows = [(0, [0.0] * EMB_DIM, "a")]
    for i in range(1, 21):
        rows.append(
            (i, [round(next(g), 6) for _ in range(EMB_DIM)], "a")
        )
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label string"
    )
    path = str(tmp_path_factory.mktemp("tied") / "embeddings.parquet")
    df.coalesce(1).write.parquet(path)
    return path


def test_ivf_zero_query_tie_break_matches_oracle(spark, tied_emb):
    """All-zero query ⇒ all centroid scores tie ⇒ both engines must
    probe the SAME (lowest) cells; results must match exactly."""
    from gclog_parser_spark.oracle_text import ann_ivf_sql
    from gclog_parser_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(tied_emb)
    got = sorted(
        (r["vec_id"], r["sim"])
        for r in ivf_topk(emb).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tied_emb}/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(ann_ivf_sql(0, 5)).fetchall()))
    con.close()
    # zero-norm query ⇒ sim is NULL on both sides (the guard), and the
    # result set is decided purely by probe-cell + vec_id tie-breaks
    assert got == want
    assert all(s is None for _, s in got)


def test_np_scorer_matches_hof(spark, sf_dir):
    """The Arrow/numpy int8 corpus-scan scorer (``quantized_scan_topk``)
    returns the SAME top-k as the interpreted-HOF scorer over the same
    int8 vectors (``quantized_topk``).  Its float32 norms differ from
    the double HOF at ~1e-7 before round(6), so a sim may land one
    6-dp unit away — never further, and never enough to reorder."""
    from gclog_parser_spark.operators.similarity import (
        quantize_embeddings,
        quantized_scan_topk,
        quantized_topk,
    )

    import pyspark.sql.functions as F

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for q in (0, 1, 7):
        # both scorers query vec_id 0: swap ids so vector q is the query
        vid = F.col("vec_id")
        emb = base.withColumn(
            "vec_id",
            F.when(vid == q, 0).when(vid == 0, q).otherwise(vid)
            .cast(base.schema["vec_id"].dataType),
        )
        hof = quantized_topk(emb).collect()
        np_ = quantized_scan_topk(quantize_embeddings(emb)).collect()
        assert [r["vec_id"] for r in np_] == [r["vec_id"] for r in hof]
        assert len(hof) == 10, q
        for a, b in zip(np_, hof):
            assert abs(a["sim"] - b["sim"]) <= 1.000001e-6, (q, a, b)


def test_np_scorer_zero_norm_guard(spark):
    """All-zero corpus vectors get NULL sim from the numpy scorer too
    (not NaN, not a crash)."""
    from gclog_parser_spark.operators.similarity import (
        quantize_embeddings,
        quantized_scan_topk,
    )

    g = _lcg(3)
    rows = [(0, [round(next(g), 6) for _ in range(EMB_DIM)], "a"),
            (1, [0.0] * EMB_DIM, "a"),
            (2, [round(next(g), 6) for _ in range(EMB_DIM)], "a")]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label string"
    )
    got = {r["vec_id"]: r["sim"]
           for r in quantized_scan_topk(quantize_embeddings(emb)).collect()}
    assert got[1] is None
    assert got[2] is not None


def _hot_shingle_docs(spark, n_hot):
    """Two near-dups plus ``n_hot`` docs sharing one stop-shingle."""
    rows = [(1, "a b c d e", "s"), (2, "a b c d f", "s")]
    rows += [(10 + i, "z z z", "s") for i in range(n_hot)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_jaccard_hot_shingle_df_cap(spark):
    """Shingles above the document-frequency cap (256) are dropped
    BEFORE the self-join: 257 docs sharing one stop-shingle produce
    ZERO pairs, while 256 produce all C(256, 2) (the hot postings list
    never reaches the join)."""
    from gclog_parser_spark.operators.dedup import jaccard_pairs

    capped = jaccard_pairs(_hot_shingle_docs(spark, 257)).collect()
    assert sorted((r["doc_a"], r["doc_b"]) for r in capped) == [(1, 2)]

    uncapped = jaccard_pairs(_hot_shingle_docs(spark, 256))
    assert uncapped.count() == 1 + (256 * 255) // 2


def test_jaccard_cap_oracle_lockstep(spark, tmp_path):
    """The df cap stays in lockstep with the DuckDB oracle on both
    sides of it."""
    from gclog_parser_spark.operators.dedup import jaccard_pairs
    from gclog_parser_spark.oracle_text import dedup_jaccard_sql

    for n_hot in (256, 257):
        docs = _hot_shingle_docs(spark, n_hot)
        path = str(tmp_path / f"documents_{n_hot}.parquet")
        docs.coalesce(1).write.parquet(path)
        got = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in jaccard_pairs(docs).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{path}/*.parquet')"
        )
        want = sorted(
            map(tuple, con.execute(dedup_jaccard_sql()).fetchall())
        )
        con.close()
        assert got == want, n_hot


def test_neardup_lsh_blocking(spark, tmp_path):
    """Default near-dup blocking is the LSH bucket: a 'hot label' no
    longer creates O(n²) candidates, near-identical vectors are still
    found, and the result matches the DuckDB oracle."""
    from gclog_parser_spark.operators.similarity import neardup_pairs
    from gclog_parser_spark.oracle_text import emb_neardup_sql

    g = _lcg(7)
    rows = []
    base = [round(next(g), 6) for _ in range(EMB_DIM)]
    rows.append((0, base, "hot"))
    # near-duplicate of vec 0: same direction, scaled
    rows.append((1, [round(x * 1.25, 6) for x in base], "hot"))
    for i in range(2, 40):  # everyone shares the 'hot' label
        rows.append(
            (i, [round(next(g), 6) for _ in range(EMB_DIM)], "hot")
        )
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label string"
    )
    path = str(tmp_path / "embeddings.parquet")
    emb.coalesce(1).write.parquet(path)

    got = sorted(
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in neardup_pairs(emb).collect()
    )
    assert (0, 1) in {(a, b) for a, b, _ in got}  # recall survives

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(emb_neardup_sql()).fetchall()))
    con.close()
    assert got == want


def test_neardup_multiband_recall(spark):
    """The multi-seed union finds at least every single-seed pair, with
    no duplicate (vec_a, vec_b) rows."""
    from gclog_parser_spark.operators.similarity import (
        neardup_pairs,
        neardup_pairs_multiband,
    )

    g = _lcg(11)
    rows = []
    for i in range(0, 30, 2):
        v = [round(next(g), 6) for _ in range(EMB_DIM)]
        rows.append((i, v, "x"))
        # each even vec gets a scaled near-duplicate (cos = 1.0)
        rows.append((i + 1, [round(c * 1.1, 6) for c in v], "x"))
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label string"
    )
    single = {
        (r["vec_a"], r["vec_b"]) for r in neardup_pairs(emb).collect()
    }
    multi_rows = neardup_pairs_multiband(emb).collect()
    multi = {(r["vec_a"], r["vec_b"]) for r in multi_rows}
    assert multi >= single
    assert len(multi_rows) == len(multi)  # deduped
    # every constructed near-dup pair is recalled by the union
    assert multi >= {(i, i + 1) for i in range(0, 30, 2)}


def test_ivf_train_improves_quantizer(spark):
    """Lloyd's iterations must not worsen the assignment objective
    (mean best-centroid dot product) — the k-means monotonicity
    guarantee; and the trained index still returns an exact top-k
    within its probe cells."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.similarity import (
        centroid_components,
        ivf_assign,
        ivf_topk,
        ivf_train,
        _dot,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )

    def objective(cents):
        scores = F.greatest(
            *[
                _dot(
                    F.col("embedding"),
                    F.array(*[F.lit(c) for c in cent]),
                )
                for cent in cents
            ]
        )
        return emb.agg(F.avg(scores)).collect()[0][0]

    # spherical k-means monotonicity: the dot-product objective is
    # non-decreasing between (unit-norm) iterations.  (The LCG init is
    # not unit-norm, so iteration 0 is not comparable by scale.)
    one = ivf_train(emb, iters=1)
    trained = ivf_train(emb, iters=2)
    assert objective(trained) >= objective(one) - 1e-6
    # trained centroids are unit vectors (up to 6-dp rounding)
    import math

    for cent in trained:
        assert abs(math.sqrt(sum(c * c for c in cent)) - 1.0) < 1e-3

    out = ivf_topk(emb, cents=trained).collect()
    assert len(out) == 5
    sims = [r["sim"] for r in out]
    assert sims == sorted(sims, reverse=True)
    # trained cells are actually used: every cell id is in range
    cells = {
        r["cell"] for r in ivf_assign(emb, cents=trained).collect()
    }
    assert cells <= set(range(len(trained)))


def test_quantize_embeddings_range_and_zero_guard(spark):
    """qvec values live in [-127, 127]; the max-|x| element hits
    exactly +/-127; all-zero vectors quantize to zeros with scale 0."""
    from gclog_parser_spark.operators.similarity import (
        quantize_embeddings,
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.5], 0),
            (1, [0.0, 0.0, 0.0], 0),
            (2, [-0.25, 0.125, 0.0625], 1),
        ],
        "vec_id int, embedding array<float>, label int",
    )
    rows = {
        r["vec_id"]: r
        for r in quantize_embeddings(df).collect()
    }
    assert rows[0]["scale"] == 2.0
    assert rows[0]["qvec"] == [64, -127, 32]  # round(.5*127/2)=round(31.75)=32
    assert rows[1]["scale"] == 0.0 and rows[1]["qvec"] == [0, 0, 0]
    assert rows[2]["qvec"][0] == -127
    # int8 storage is real: elements are tinyint, not double
    qdf = quantize_embeddings(df)
    assert dict(qdf.dtypes)["qvec"] == "array<tinyint>"
    # scan-side only: no exchange in the quantization plan
    plan = quantize_embeddings(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_quantized_topk_tracks_exact_cosine(spark, sf_dir):
    """int8 cosine is a close approximation: at least 8 of the exact
    fp32 top-10 survive in the quantized top-10, and the quantized
    sims are within 0.02 of exact for the overlap."""
    from gclog_parser_spark.operators.similarity import (
        cosine_topk,
        quantized_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {r["vec_id"]: r["sim"] for r in cosine_topk(emb).collect()}
    quant = {r["vec_id"]: r["sim"] for r in quantized_topk(emb).collect()}
    overlap = set(exact) & set(quant)
    assert len(overlap) >= 8
    for v in overlap:
        assert abs(exact[v] - quant[v]) < 0.02


def test_quantization_error_bound_adversarial(spark):
    """Reconstruction error of round-half-up int8 quantization is
    bounded by scale/254 (half a quantization step) up to float
    round-off — pinned on adversarial vectors: exact .5 rounding
    boundaries, denormal-ish magnitudes, huge scales, negative
    maxima, and a zero vector."""
    from gclog_parser_spark.operators.similarity import (
        quantization_error,
    )

    rows = [
        # exact rounding boundaries: x*127/scale = k + 0.5
        (0, [1.0, 0.5 / 127.0 * 1.0, 0.25], 0),
        (1, [-1.0, -0.5, 63.5 / 127.0], 0),
        # tiny magnitudes
        (2, [1e-30, -3e-31, 2e-31], 1),
        # huge magnitudes
        (3, [1e30, -7.3e29, 1.1e29], 1),
        # negative max-|x| element
        (4, [-5.0, 2.5, -1.25], 2),
        # all zeros
        (5, [0.0, 0.0, 0.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, label int"
    )
    for r in quantization_error(df).collect():
        # worst_rel_err = max |recon - x| / scale <= 1/254 (+eps)
        assert r["worst_rel_err"] is None or (
            r["worst_rel_err"] <= 1.0 / 254.0 + 1e-6
        ), r


def test_knn_graph_invariants_and_plan(spark, sf_dir):
    from pyspark.sql import functions as F

    from gclog_parser_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = knn_graph(emb, k=3)
    rows = g.collect()
    assert rows, "knn graph empty"
    # no self-edges, rank bounded by k and dense from 1 per src
    by_src: dict[int, list] = {}
    for r in rows:
        assert r.src != r.dst
        by_src.setdefault(r.src, []).append(r)
    for src, edges in by_src.items():
        ranks = sorted(e.rank for e in edges)
        assert ranks == list(range(1, len(edges) + 1))
        assert len(edges) <= 3
        # ranks ordered by (sim desc, dst asc) — deterministic ties
        ordered = sorted(edges, key=lambda e: (-e.sim, e.dst))
        assert [e.rank for e in ordered] == ranks
    # re-run is byte-stable (content-keyed planes, no rand())
    again = sorted(
        (r.src, r.dst, r.rank) for r in knn_graph(emb, k=3).collect()
    )
    assert again == sorted((r.src, r.dst, r.rank) for r in rows)
    # the rank<=k filter must reach WindowGroupLimit so the window
    # exchange ships <= k rows per (src, map task), not the full
    # candidate set -- the property that makes this viable at 10^9 vecs
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_pair_dot_np_scorer_bit_identical(spark, sf_dir):
    """The Arrow pair-dot scorer behind knn_graph and neardup_pairs
    must reproduce the HOF ``_cos_sim`` expression BIT-FOR-BIT on
    every candidate pair: the numpy accumulation replays the same
    left-fold element order in the same IEEE doubles, and division +
    round(6) stay JVM-side — a batch-transfer optimization, never a
    float reordering."""
    import pyspark.sql.functions as F

    from gclog_parser_spark.operators.similarity import (
        _bucket_pair_sims,
        _cos_sim,
        lsh_buckets,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = lsh_buckets(emb).select("vec_id", "embedding", "bucket")
    got = sorted(map(tuple, _bucket_pair_sims(b, "bucket").collect()))
    l, r = b.alias("l"), b.alias("r")
    hof = sorted(
        map(
            tuple,
            l.join(r, "bucket")
            .where(F.col("l.vec_id") != F.col("r.vec_id"))
            .select(
                F.col("l.vec_id").cast("long").alias("src"),
                F.col("r.vec_id").cast("long").alias("dst"),
                _cos_sim(
                    F.col("l.embedding"), F.col("r.embedding")
                ).alias("sim"),
            )
            .collect(),
        )
    )
    assert got == hof and got


def test_bucket_scorer_fail_empty_on_degenerate_vectors(spark):
    """Under the fail-EMPTY lsh_buckets rule, dim-mismatched vectors
    hash to a NULL bucket.  groupBy keeps NULL as ONE group, so without
    the explicit isNotNull filter every degenerate vector would
    collapse into a single O(n²) candidate group (or crash the Arrow
    group map on a ragged np.stack).  Mixing short vectors into a
    corpus must therefore change nothing: both operators return
    exactly what they return on the valid rows alone."""
    from gclog_parser_spark.operators.similarity import (
        knn_graph,
        neardup_pairs,
    )

    g = _lcg(7)
    rows = []
    for i in range(12):
        rows.append((i, [round(next(g), 6) for _ in range(EMB_DIM)], "ok"))
    for i in range(12, 18):  # six degenerate short vectors
        rows.append((i, [1.0, 2.0], "bad"))
    schema = "vec_id int, embedding array<float>, label string"
    mixed = spark.createDataFrame(rows, schema)
    valid = spark.createDataFrame(rows[:12], schema)
    bad_ids = set(range(12, 18))

    def run(fn, emb, **kw):
        return sorted(map(tuple, fn(emb, **kw).collect()))

    for fn, kw in ((neardup_pairs, {"threshold": 0.0}),
                   (knn_graph, {"k": 2})):
        got = run(fn, mixed, **kw)
        assert got == run(fn, valid, **kw), fn.__name__
        assert got, fn.__name__
        assert all(
            r[0] not in bad_ids and r[1] not in bad_ids for r in got
        ), fn.__name__


def test_matryoshka_energy_ratios_exact(spark):
    """Handcrafted vectors with closed-form prefix-energy ratios: all
    energy in the prefix -> 1.0; split evenly across prefix/tail ->
    sqrt(0.5); all energy in the tail -> 0.0; a zero vector drops."""
    import math

    from gclog_parser_spark.operators.similarity import matryoshka_audit

    def vec(front, back):
        return [float(front)] * 16 + [float(back)] * 16

    rows = [
        (0, vec(1, 0), 0),   # prefix-only -> ratio 1
        (1, vec(1, 1), 1),   # even split  -> sqrt(1/2)
        (2, vec(0, 1), 2),   # tail-only   -> 0
        (3, vec(0, 0), 3),   # zero vector -> NULL, dropped
    ]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["label"], r["d"]): r
        for r in matryoshka_audit(embs).collect()
    }
    assert got[(0, 16)]["mean_energy"] == 1.0
    want = round(round(math.sqrt(0.5) * 1e6) / 1e6, 6)
    assert got[(1, 16)]["mean_energy"] == want
    assert got[(2, 16)]["mean_energy"] == 0.0
    assert (3, 16) not in got or got[(3, 16)]["n_vecs"] == 0
    assert got[(0, 16)]["min_energy"] == 1.0
    # the full 32-dim prefix keeps all energy of every nonzero vector
    assert all(got[(lbl, 32)]["mean_energy"] == 1.0 for lbl in (0, 1, 2))
