"""Product quantization (operators/similarity.py::pq_*): training
improves the codebooks, codes are bounded, and ADC search finds real
L2 neighbors."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.operators.similarity import (
    PQ_KS,
    PQ_M,
    PQ_TICKS,
    pq_encode,
    pq_init,
    pq_topk,
    pq_train,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _quant_error(spark, emb, cents):
    """Total integer-tick reconstruction error Σ_vec Σ_m ||x_m −
    c_code||² — the k-means objective PQ training minimizes."""
    sub = 64 // len(cents)
    cdf = spark.createDataFrame(
        [
            (m, c, i, cents[m][c][i])
            for m in range(len(cents))
            for c in range(len(cents[m]))
            for i in range(sub)
        ],
        "m int, cell int, i int, ct long",
    )
    codes = pq_encode(emb, cents)
    t = emb.join(codes, "vec_id").select(
        "vec_id",
        F.array(*[F.col(f"code_{m}") for m in range(len(cents))]).alias(
            "a"
        ),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        (F.col("pos") / sub).cast("int").alias("m"),
        F.element_at("a", (F.col("pos") / sub).cast("int") + 1).alias(
            "cell"
        ),
        F.pmod("pos", F.lit(sub)).cast("int").alias("i"),
        F.round(F.col("val").cast("double") * PQ_TICKS)
        .cast("long")
        .alias("t"),
    )
    return (
        t.join(F.broadcast(cdf), ["m", "cell", "i"])
        .select(
            ((F.col("t") - F.col("ct")) * (F.col("t") - F.col("ct"))).alias(
                "e"
            )
        )
        .agg(F.sum("e"))
        .collect()[0][0]
    )


def test_training_reduces_quantization_error(spark, emb):
    init = pq_init(emb)
    trained = pq_train(emb, iters=2)
    e0 = _quant_error(spark, emb, init)
    e2 = _quant_error(spark, emb, trained)
    assert e2 < e0 * 0.9  # Lloyd's must actually move the codebooks


def test_codes_bounded_and_total(emb):
    codes = pq_encode(emb, pq_init(emb))
    n = emb.count()
    assert codes.count() == n
    for m in range(PQ_M):
        mm = codes.agg(
            F.min(f"code_{m}"), F.max(f"code_{m}")
        ).collect()[0]
        assert 0 <= mm[0] and mm[1] <= PQ_KS - 1


def test_adc_finds_true_l2_neighbors(emb):
    """PQ top-10 must overlap the exact tick-L2 top-20 (lossy codes,
    but not random)."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    T = np.copysign(np.floor(np.abs(M * PQ_TICKS) + 0.5), M)
    q = T[ids == 0][0]
    d = ((T - q) ** 2).sum(axis=1)
    order = ids[np.argsort(d, kind="stable")]
    true20 = {int(v) for v in order if v != 0}
    true20 = set(list(true20)[:0]) | set(
        int(v) for v in order[order != 0][:20]
    )
    cents = pq_train(emb, iters=2)
    got = {r["vec_id"] for r in pq_topk(emb, cents, k=10).collect()}
    assert len(got & true20) >= 4


def test_empty_cells_keep_previous_centroid(spark):
    """A degenerate corpus (all identical vectors) trains without
    error and keeps init centroids for the cells nothing maps to."""
    emb = spark.createDataFrame(
        [(i, [float(1)] * 64, 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    cents = pq_train(emb, iters=1)
    assert len(cents) == PQ_M and len(cents[0]) == PQ_KS


def _brute_codes(rows, cents):
    """vec_id → codes by brute force in plain Python integers:
    components quantized HALF_UP to ticks, squared L2 per subspace, the
    lowest cell on ties."""
    from decimal import ROUND_HALF_UP, Decimal

    sub = 64 // PQ_M

    def tick(v):
        x = Decimal(repr(float(v) * PQ_TICKS))
        return int(x.quantize(Decimal(1), rounding=ROUND_HALF_UP))

    want = {}
    for r in rows:
        t = [tick(v) for v in r["embedding"]]
        want[r["vec_id"]] = [
            min(
                range(PQ_KS),
                key=lambda c: (
                    sum(
                        (t[m * sub + i] - cents[m][c][i]) ** 2
                        for i in range(sub)
                    ),
                    c,
                ),
            )
            for m in range(PQ_M)
        ]
    return want


def _codes(df):
    return {
        r["vec_id"]: [r[f"code_{m}"] for m in range(PQ_M)]
        for r in df.collect()
    }


def test_pq_np_assigner_trains_identical_codebooks(spark, sf_dir):
    """Every code pq_encode gives on a trained codebook equals a
    brute-force argmin in plain Python integers.  Training assigns with
    the same Arrow UDF, so this also pins the codes pq_train converges
    on.  No real vector lies within a tick of a cell tie, so hand-built
    probes on a hand-built codebook check the two rules the data
    cannot: HALF_UP ticks (away from zero at .5) and the lowest cell on
    an exact tie."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = pq_train(emb, iters=2)
    got = _codes(pq_encode(emb, cents))
    rows = emb.select("vec_id", "embedding").collect()
    assert got == _brute_codes(rows, cents)
    assert len(got) == emb.count()

    # every subspace: cells on its first component (ticks), rest 0
    sub = 64 // PQ_M
    cell_ticks = [
        0, 15625, -31250, -62500, -15625, 10**6, 2 * 10**6, 3 * 10**6
    ]
    hand = [[[t] + [0] * (sub - 1) for t in cell_ticks]] * PQ_M
    probes = {
        1: 1 / 128,  # 7812.5 ticks -> 7813: cell 1 (7812 -> cell 0)
        2: -1 / 128,  # -7812.5 -> -7813: cell 4 (-7812 -> cell 0)
        3: -3 / 64,  # -46875: as near cell 2 as cell 3 -> 2
    }
    rows = [
        (vid, [x if i % sub == 0 else 0.0 for i in range(64)])
        for vid, x in probes.items()
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = _codes(pq_encode(df, hand))
    assert got == {1: [1] * PQ_M, 2: [4] * PQ_M, 3: [2] * PQ_M}
    assert got == _brute_codes(df.collect(), hand)


def test_ivfpq_candidates_come_from_probe_cells(spark, sf_dir):
    """Every IVF-PQ result sits in one of the query's n_probe coarse
    cells, and its ADC distance equals the full-corpus PQ distance
    for the same vec_id (the cell filter prunes candidates, never
    changes the metric)."""
    from gclog_parser_spark.operators.similarity import (
        _query_probes,
        centroid_components,
        ivf_assign,
        ivfpq_topk,
        pq_topk,
        pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents_pq = pq_train(emb, iters=2)
    got = ivfpq_topk(emb, cents_pq, k=10, n_probe=2).collect()
    assert len(got) == 10

    cents_ivf = centroid_components()
    cells = {
        r["cell"]
        for r in _query_probes(emb, 0, cents_ivf, 2).collect()
    }
    assigned = {
        r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents=cents_ivf).collect()
    }
    for r in got:
        assert assigned[r["vec_id"]] in cells

    full = {
        r["vec_id"]: r["pq_dist_ticks"]
        for r in pq_topk(emb, cents_pq, k=10**9 // 2).collect()
    }
    for r in got:
        assert full[r["vec_id"]] == r["pq_dist_ticks"]
