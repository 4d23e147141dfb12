"""PageRank semantics on hand-checked graphs (the DuckDB oracle in
__spark_entry__ is the large-scale cross-check; here a third,
plain-Python reimplementation pins the integer-tick formulas)."""

import pyspark.sql.functions as F
import pytest

from gclog_parser_spark.operators.graph import (
    events_link_graph,
    pagerank,
    trustrank,
)


def _py_pagerank(edges, n_iter=5, d=85, scale=10**12):
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    r0 = scale // n
    base = ((100 - d) * r0) // 100
    deg = {}
    for s, _ in set(edges):
        deg[s] = deg.get(s, 0) + 1
    r = {v: r0 for v in nodes}
    for _ in range(n_iter):
        s_in = {v: 0 for v in nodes}
        for a, b in set(edges):
            s_in[b] += r[a] // deg[a]
        r = {v: base + (d * s_in[v]) // 100 for v in nodes}
    return r


def test_pagerank_matches_python_reimpl(spark):
    edges = [(1, 2), (2, 1), (3, 1), (3, 2), (4, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank_ticks"] for r in pagerank(df).collect()}
    assert got == _py_pagerank(edges)
    # pagerank is trustrank seeded with every node
    every = spark.createDataFrame([(v,) for v in range(1, 5)], "node bigint")
    assert got == {
        r["node"]: r["trust_ticks"] for r in trustrank(df, every).collect()
    }


def test_pagerank_source_only_node_gets_base_rank(spark):
    # node 3 has no in-links: rank = base term exactly; the hub (1)
    # outranks everything
    edges = [(1, 2), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank_ticks"] for r in pagerank(df).collect()}
    base = ((100 - 85) * (10**12 // 3)) // 100
    assert got[3] == base
    assert got[1] > got[2] > got[3]


def test_pagerank_dedups_multi_edges(spark):
    # duplicate edges must not double a contribution
    once = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1)], "src bigint, dst bigint"
    )
    a = {r["node"]: r["rank_ticks"] for r in pagerank(once).collect()}
    b = {r["node"]: r["rank_ticks"] for r in pagerank(dup).collect()}
    assert a == b


def test_events_link_graph_is_deterministic(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    g1 = events_link_graph(ev)
    g2 = events_link_graph(ev)
    assert g1.exceptAll(g2).count() == 0
    n_users = ev.select(F.countDistinct("user_id")).first()[0]
    mx = g1.agg(F.max("dst")).first()[0]
    assert mx < n_users


def test_triangles_k4(spark):
    """K4: every node sits in C(3,2)=3 triangles; 4 triangles total."""
    from gclog_parser_spark.operators.graph import triangle_counts

    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_star_and_path_are_zero(spark):
    """A hub star has maximal wedges but zero triangles — the case the
    degree orientation exists for."""
    from gclog_parser_spark.operators.graph import triangle_counts

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src bigint, dst bigint"
    )
    assert (
        triangle_counts(star).agg(F.sum("n_triangles")).first()[0] == 0
    )


def test_triangles_ignore_direction_loops_and_dups(spark):
    """(1,2),(2,1),(2,2) + a closing edge count one triangle once."""
    from gclog_parser_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 2), (2, 3), (3, 1), (1, 3)],
        "src bigint, dst bigint",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_hits_star_graph_pinned(spark):
    """Hub 0 -> authorities 1,2,3: node 0 takes the whole hub mass
    (10^12 ticks), each authority gets floor(scale/3), and the
    opposite scores are zero — exact integer expectations."""
    from gclog_parser_spark.operators.graph import hits

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src bigint, dst bigint"
    )
    got = {r["node"]: r for r in hits(e).collect()}
    scale = 10**12
    assert got[0]["hub_ticks"] == scale
    assert got[0]["auth_ticks"] == 0
    for v in (1, 2, 3):
        assert got[v]["auth_ticks"] == scale // 3
        assert got[v]["hub_ticks"] == 0


def test_hits_l1_mass_bounded_and_deterministic(spark):
    """On a small mixed graph the L1 tick totals stay within scale
    (floor loss only) and a re-run is bit-identical."""
    from gclog_parser_spark.operators.graph import hits

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 3), (4, 1)],
        "src bigint, dst bigint",
    )
    r1 = sorted(map(tuple, hits(e).collect()))
    r2 = sorted(map(tuple, hits(e).collect()))
    assert r1 == r2
    scale = 10**12
    auth = sum(t[1] for t in r1)
    hub = sum(t[2] for t in r1)
    assert scale - 10 <= auth <= scale
    assert scale - 10 <= hub <= scale


def _py_lpa(edges, n_iter=3):
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    nodes = sorted({a for a, _ in und})
    lbl = {v: v for v in nodes}
    for _ in range(n_iter):
        nxt = {}
        for v in nodes:
            cnt = {}
            for a, b in und:
                if a == v:
                    cnt[lbl[b]] = cnt.get(lbl[b], 0) + 1
            # most frequent, ties -> smallest label
            nxt[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lbl = nxt
    return lbl


def test_lpa_matches_python_reimpl(spark):
    from gclog_parser_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (7, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df).collect()
    }
    assert got == _py_lpa(edges)


def test_lpa_splits_two_cliques_joined_by_a_bridge(spark):
    from gclog_parser_spark.operators.graph import label_propagation

    # two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4:
    # connected components would merge them; LPA keeps them apart
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df).collect()
    }
    left = {got[1], got[2], got[3]}
    right = {got[4], got[5], got[6]}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_lpa_ignores_multi_edges_self_loops_and_direction(spark):
    from gclog_parser_spark.operators.graph import label_propagation

    base = [(1, 2), (2, 3), (3, 1), (3, 4)]
    noisy = base + [(2, 1), (1, 2), (1, 1), (4, 4)]
    a = {
        r["node"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(base, "src bigint, dst bigint")
        ).collect()
    }
    b = {
        r["node"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(noisy, "src bigint, dst bigint")
        ).collect()
    }
    assert a == b


def test_lpa_guards_bad_inputs(spark):
    from gclog_parser_spark.operators.graph import label_propagation

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    with pytest.raises(ValueError):
        label_propagation(empty)
    loops_only = spark.createDataFrame(
        [(1, 1), (2, 2)], "src bigint, dst bigint"
    )
    with pytest.raises(ValueError):
        label_propagation(loops_only)


def _py_trustrank(edges, seed_ids, n_iter=5, d=85, scale=10**12):
    e = sorted(set(edges))
    nodes = sorted({a for a, _ in e} | {b for _, b in e})
    seeds = sorted(set(seed_ids) & set(nodes))
    t0 = scale // len(seeds)
    base = ((100 - d) * t0) // 100
    outdeg = {}
    for a, _ in e:
        outdeg[a] = outdeg.get(a, 0) + 1
    t = {v: (t0 if v in seeds else 0) for v in nodes}
    for _ in range(n_iter):
        agg = {v: 0 for v in nodes}
        for a, b in e:
            agg[b] += t[a] // outdeg[a]  # floor div, BIGINT ticks
        t = {
            v: (base if v in seeds else 0) + (d * agg[v]) // 100
            for v in nodes
        }
    return t


def test_trustrank_matches_python_reimpl(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1),
             (2, 6), (7, 8), (8, 7)]
    seed_ids = [1, 4, 99]  # 99 absent from the graph -> ignored
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    sd = spark.createDataFrame([(s,) for s in seed_ids], "node bigint")
    got = {
        r["node"]: r["trust_ticks"]
        for r in trustrank(df, sd).collect()
    }
    assert got == _py_trustrank(edges, seed_ids)


def test_trustrank_unreachable_nodes_hold_zero_trust(spark):
    # spam farm {7,8} interlinks densely but no seed path reaches it:
    # PageRank would reward it; TrustRank pins it to exactly 0 ticks
    edges = [(1, 2), (2, 3), (3, 1), (7, 8), (8, 7), (7, 7)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    sd = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r["node"]: r["trust_ticks"]
        for r in trustrank(df, sd).collect()
    }
    assert got[7] == 0 and got[8] == 0
    assert got[1] > 0 and got[2] > 0 and got[3] > 0


def test_trustrank_guards_bad_inputs(spark):
    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    empty_edges = spark.createDataFrame([], "src bigint, dst bigint")
    sd = spark.createDataFrame([(1,)], "node bigint")
    with pytest.raises(ValueError, match="empty edge set"):
        trustrank(empty_edges, sd)
    no_seed = spark.createDataFrame([(99,)], "node bigint")
    with pytest.raises(ValueError, match="seed"):
        trustrank(df, no_seed)


def _py_kcore(edges, k):
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    while True:
        deg = {}
        for a, _ in und:
            deg[a] = deg.get(a, 0) + 1
        alive = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in und if a in alive and b in alive}
        if nxt == und:
            break
        und = nxt
    out = {}
    for a, _ in und:
        out[a] = out.get(a, 0) + 1
    return out


def test_kcore_matches_python_reimpl(spark):
    from gclog_parser_spark.operators.graph import kcore

    # clique {1,2,3,4} + pendant chain 4-5-6 + isolated pair 7-8:
    # the 2-core is exactly the clique; chains and pairs peel away.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (7, 8)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    for k in (1, 2, 3, 4):
        got = {
            r["node"]: r["core_deg"]
            for r in kcore(df, k=k).collect()
        }
        assert got == _py_kcore(edges, k)
    assert set(_py_kcore(edges, 2)) == {1, 2, 3, 4}
    assert _py_kcore(edges, 4) == {}


def test_kcore_cascade_peels_whole_chain(spark):
    from gclog_parser_spark.operators.graph import kcore

    # a pure path graph has NO 2-core: each peel round removes the two
    # current endpoints, so the cascade takes ceil(n/2) rounds and the
    # convergence loop (not a fixed unroll) must carry it to empty;
    # test_kcore_coreness_backstop_is_peeling_depth pins the rounds.
    n = 9
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    assert kcore(df, k=2).collect() == []


def test_kcore_direction_and_multiedge_invariant(spark):
    from gclog_parser_spark.operators.graph import kcore

    base = [(1, 2), (2, 3), (3, 1)]
    noisy = base + [(2, 1), (3, 1), (1, 1), (3, 1)]
    a = spark.createDataFrame(base, "src bigint, dst bigint")
    b = spark.createDataFrame(noisy, "src bigint, dst bigint")
    ra = sorted((r["node"], r["core_deg"]) for r in kcore(a, k=2).collect())
    rb = sorted((r["node"], r["core_deg"]) for r in kcore(b, k=2).collect())
    assert ra == rb == [(1, 2), (2, 2), (3, 2)]


def test_kcore_guards(spark):
    from gclog_parser_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="k >= 1"):
        kcore(df, k=0)
    loops = spark.createDataFrame([(1, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="empty edge set"):
        kcore(loops)


def _py_coreness(edges):
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    h = {v: len(ns) for v, ns in adj.items()}
    while True:
        nh = {}
        for v, ns in adj.items():
            vals = sorted((h[u] for u in ns), reverse=True)
            nh[v] = sum(1 for i, x in enumerate(vals, 1) if x >= i)
        if nh == h:
            return h
        h = nh


def test_coreness_matches_python_and_kcore(spark):
    from gclog_parser_spark.operators.graph import coreness, kcore

    # clique(4) + pendant chain + pair: coreness 3 on the clique,
    # 1 everywhere else; k-core membership must agree for every k
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (7, 8)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["coreness"] for r in coreness(df).collect()}
    want = _py_coreness(edges)
    assert got == want
    assert got[1] == 3 and got[5] == 1 and got[7] == 1
    # cross-operator consistency: {v : coreness >= k} == k-core nodes
    for k in (1, 2, 3):
        core_nodes = {
            r["node"] for r in kcore(df, k=k).collect()
        }
        assert {v for v, c in got.items() if c >= k} == core_nodes


def test_coreness_path_graph_all_ones(spark):
    from gclog_parser_spark.operators.graph import coreness

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    got = {r["node"]: r["coreness"] for r in coreness(df).collect()}
    assert set(got.values()) == {1}
    assert len(got) == 9


def _fixpoint_builders():
    from gclog_parser_spark.operators.dedup import connected_components
    from gclog_parser_spark.operators.graph import coreness, kcore

    path7 = [(i, i + 1) for i in range(6)]
    path16 = [(i, i + 1) for i in range(15)]
    # (builder, edges, depth, result at the fixpoint).  On the path
    # 0-1-...-6 the 2-core peel removes both ends each round (3 rounds
    # to empty), and the h-index 1s move in from both ends one node
    # per round (3 rounds until every value is 1).  Alternating star
    # closes the 16-node path in 4 rounds that change its edge set.
    return {
        "kcore": (
            lambda df, m: kcore(df, k=2, max_rounds=m), path7, 3, []),
        "coreness": (
            lambda df, m: coreness(df, max_rounds=m), path7, 3,
            [(i, 1) for i in range(7)]),
        "connected_components": (
            lambda df, m: connected_components(
                df, src="src", dst="dst", max_rounds=m),
            path16, 4, [(i, 0) for i in range(16)]),
    }


@pytest.mark.parametrize(
    "name", ["kcore", "coreness", "connected_components"])
def test_kcore_coreness_backstop_is_peeling_depth(spark, name):
    """One rule for every fixpoint builder: ``max_rounds`` bounds the
    rounds that change the state, and the round that only confirms
    the fixpoint is extra.  A graph converges at ``max_rounds`` equal
    to its depth and raises one round less, which also pins each
    builder's round count."""
    build, edges, depth, want = _fixpoint_builders()[name]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    assert sorted(map(tuple, build(df, depth).collect())) == want
    with pytest.raises(RuntimeError, match="did not reach its fixpoint"):
        build(df, depth - 1)


def test_coreness_empty_guard(spark):
    from gclog_parser_spark.operators.graph import coreness

    loops = spark.createDataFrame([(1, 1)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="empty edge set"):
        coreness(loops)


def test_degree_distribution_buckets_exact(spark):
    """Star hub: out-degree 9 lands in bucket 3 = [8, 15]; each leaf
    has in-degree 1 in bucket 0 = [1, 1] — float-free bucketing."""
    from gclog_parser_spark.operators.graph import degree_distribution

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 10)], "src bigint, dst bigint"
    )
    got = {
        (r["direction"], r["bucket"]): r
        for r in degree_distribution(star).collect()
    }
    hub = got[("out", 3)]
    assert (hub["n_nodes"], hub["min_deg"], hub["max_deg"]) == (1, 9, 9)
    assert (hub["deg_lo"], hub["deg_hi"]) == (8, 15)
    leaves = got[("in", 0)]
    assert (leaves["n_nodes"], leaves["min_deg"], leaves["max_deg"]) == (
        9, 1, 1,
    )
    assert (leaves["deg_lo"], leaves["deg_hi"]) == (1, 1)
    assert set(got) == {("out", 3), ("in", 0)}


def test_degree_distribution_drops_loops_and_dups(spark):
    from gclog_parser_spark.operators.graph import degree_distribution

    e = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 1), (2, 1)], "src bigint, dst bigint"
    )
    got = {
        (r["direction"], r["bucket"]): r["n_nodes"]
        for r in degree_distribution(e).collect()
    }
    # simplified graph is 1->2, 2->1: every degree is 1
    assert got == {("out", 0): 2, ("in", 0): 2}
