"""Iterative graph algorithms over edge DataFrames.

PageRank is the classic link-graph quality prior for web corpora
(Common Crawl ranks hosts this way; LLM corpus pipelines use it as a
document-quality feature next to the text heuristics in
``operators/textstats.py``).  The reference repo has no graph surface —
this belongs to the north rule's web-corpus superset, alongside
``dedup.connected_components`` (which shares the same iterative-plan
discipline: bounded rounds, lineage truncation, O(1) driver state).

Exact cross-engine parity trick: ranks are **integer ticks**
(rank × 10^12 as BIGINT) and every update uses only integer ops —
``DIV`` floor division and BIGINT sums — so the DuckDB oracle's
unrolled-CTE reimplementation matches bit-for-bit, with no
float-summation-order tolerance games.  The tick formulas:

    r0        = SCALE DIV N                      (every node)
    base      = ((100-d)·(SCALE DIV N)) DIV 100
    contrib_e = r_src DIV outdeg_src             (per edge)
    r'        = base + (d · Σ contrib_in) DIV 100

Dangling mass is dropped (the no-redistribution PageRank variant) —
both engines implement the identical rule.

Scale: each iteration is one shuffle join of edges⋈ranks on src plus
one partial-aggregated shuffle on dst — shuffle ∝ edges, state ∝
nodes, never quadratic.  The only driver-side scalars are the node
count and (for the events-derived demo graph) the user count — O(1).

Lineage: every loop here ends a round in ``localCheckpoint`` so the
next round plans against a leaf instead of a tree of 2·rounds
shuffles.  ``localCheckpoint(eager=False)`` is not free at build time:
it calls ``execute()`` on the adaptive plan, and under AQE that runs
every query stage below the last one (each shuffle map stage and
broadcast) as Spark jobs right away; only the final stage waits for
the first action.  So a builder launches its jobs before it returns.
Measured on ``events_link_graph`` of sf0.01 (``local[4]``, warm second
build, ``DAGScheduler.nextJobId`` delta): ``pagerank`` 29,
``trustrank`` 38, ``hits`` 42, ``label_propagation`` 16, ``kcore`` 11,
``coreness`` 34.  The fixpoint loops (:func:`_fixpoint`) checkpoint
eagerly, because their convergence test reads the new state anyway.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: rank ticks per unit of rank mass, and the damping factor in percent
#: (85 = the canonical 0.85, so the damping multiply stays in BIGINT)
SCALE = 10**12
DAMPING_PCT = 85
#: fixed iteration counts: pagerank/trustrank, hits, label_propagation
RANK_ITERS = 5
HITS_ITERS = 3
LPA_ITERS = 3


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple edge set ``(a, b)`` of ``edges``: both
    directions of every non-loop edge, distinct, materialized once
    because every round of the caller's loop reads it."""
    d = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).where(F.col("a") != F.col("b"))
    return (
        d.union(d.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )


def _fixpoint(state, step, sig, prev, max_rounds: int, name: str):
    """Iterate ``state = step(state)`` until ``sig(state)`` repeats.

    Each round materializes the new state with an eager
    ``localCheckpoint`` (the lineage stays one round deep), takes its
    O(1) driver-side signature and compares it with the last one;
    ``prev`` is the signature of the input state, or None when the
    caller has none, so the first round always counts as a change.
    ``max_rounds`` bounds the rounds that change the state, and one
    more round confirms the fixpoint; past that the loop raises
    instead of returning a state that is not the fixpoint.  Used by
    :func:`kcore`, :func:`coreness` and
    ``dedup.connected_components``.

    Returns the fixpoint state and each round's wall seconds.
    """
    round_secs: list[float] = []
    for _ in range(max_rounds + 1):
        t0 = time.perf_counter()
        state = step(state).localCheckpoint()
        cur = sig(state)
        round_secs.append(round(time.perf_counter() - t0, 3))
        if cur == prev:
            return state, round_secs
        prev = cur
    raise RuntimeError(
        f"{name} did not reach its fixpoint in {max_rounds} rounds that"
        " change the state; raise max_rounds"
    )


def _edges_and_nodes(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The distinct ``(src, dst)`` edges and their ``node`` set, each
    materialized once: every iteration below reads both, and a lazy
    relation would re-scan and re-dedup the input per iteration."""
    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    return e, nodes


def _seeded_rank(
    e: DataFrame, flagged: DataFrame, n_seed: int, col: str
) -> DataFrame:
    """The integer-tick rank loop that :func:`pagerank` and
    :func:`trustrank` share, over distinct edges ``e`` and ``flagged``
    ``(node, is_seed)``: a seed starts at ``SCALE DIV n_seed`` and takes
    the teleport base each round, any other node starts and teleports
    at 0.  Returns ``(node, <col>)`` after ``RANK_ITERS`` rounds."""
    t0 = SCALE // n_seed
    base = ((100 - DAMPING_PCT) * t0) // 100

    def seeded(v: int):
        return F.when(F.col("is_seed"), F.lit(v)).otherwise(F.lit(0))

    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ed = e.join(outdeg, "src").localCheckpoint()
    ranks = flagged.select("node", seeded(t0).cast("long").alias(col))
    for _ in range(RANK_ITERS):
        contrib = ed.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr(f"{col} DIV deg").alias("c"),
        )
        insum = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            flagged.join(insum, "node", "left")
            .select(
                "node",
                (
                    seeded(base)
                    + F.expr(
                        f"({DAMPING_PCT} * coalesce(s, CAST(0 AS BIGINT)))"
                        " DIV 100"
                    )
                ).cast("long").alias(col),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def pagerank(edges: DataFrame) -> DataFrame:
    """Fixed-iteration integer-tick PageRank over distinct ``(src,
    dst)`` edges: :func:`trustrank` with every node a seed.

    Returns ``(node, rank_ticks)`` for every node that appears as a
    source or destination.
    """
    e, nodes = _edges_and_nodes(edges)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank over an empty edge set")
    flagged = nodes.withColumn("is_seed", F.lit(True))
    return _seeded_rank(e, flagged, n, "rank_ticks")


def trustrank(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """Fixed-iteration integer-tick TrustRank (Gyöngyi, Garcia-Molina
    & Pedersen 2004): personalized PageRank whose teleport vector is a
    trusted SEED set instead of uniform.  Trust flows outward from
    human-vetted seeds along links, so spam farms — which PageRank can
    reward when they interlink densely — score near zero unless a
    trusted page actually links toward them.  In an LLM corpus
    pipeline this is the seeded quality prior next to ``pagerank``
    (link popularity), ``hits`` (hub/authority) and ``triangle_counts``
    (local density): mix caps and sampling weights key off it.

    Identical parity discipline to :func:`pagerank` — all-BIGINT
    ticks, ``DIV`` floor division, dangling mass dropped — with the
    seeded differences:

        t0(v)   = SCALE DIV |S|  if v ∈ S else 0
        base(v) = ((100-d)·(SCALE DIV |S|)) DIV 100  if v ∈ S else 0
        t'(v)   = base(v) + (d · Σ contrib_in) DIV 100

    so a node unreachable from every seed holds exactly 0 ticks
    forever (the paper's spam-demotion property, pinned in tests).

    ``seeds`` is a one-column DataFrame of trusted node ids; ids not
    present in the edge set are ignored (|S| counts the intersection).
    Scale: seeds are semi-joined onto the O(nodes) side — per
    iteration the plan is the same edges⋈ranks shuffle + one
    partial-aggregated exchange on dst as pagerank, shuffle ∝ edges;
    driver state is two counts.
    """
    e, nodes = _edges_and_nodes(edges)
    if nodes.count() == 0:
        raise ValueError("trustrank over an empty edge set")
    seed_col = seeds.columns[0]
    seed_nodes = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
    )
    n_seed = seed_nodes.count()
    if n_seed == 0:
        raise ValueError("trustrank requires >= 1 seed present in the graph")
    flagged = nodes.join(
        seed_nodes.withColumn("is_seed", F.lit(True)), "node", "left"
    ).select(
        "node", F.coalesce(F.col("is_seed"), F.lit(False)).alias("is_seed")
    ).localCheckpoint()
    return _seeded_rank(e, flagged, n_seed, "trust_ticks")


def events_link_graph(events: DataFrame) -> DataFrame:
    """Deterministic demo link graph from the events table: user u
    links to ``event_id mod n_users`` for each of u's events (distinct
    pairs).  Dense node ids 0..n_users-1, so the node set is exactly
    the user set — reproducible by the DuckDB oracle with the same
    modular arithmetic."""
    n_users = events.select(F.countDistinct("user_id")).first()[0]
    return events.select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % F.lit(int(n_users))).alias("dst"),
    ).distinct()


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts — the local clustering signal web-graph
    pipelines use next to PageRank (spam farms are triangle-dense;
    genuine hubs are not).

    Algorithm: degree orientation (Schank & Wagner 2005 / the standard
    MapReduce formulation).  Treat the graph as undirected and simple
    (self-loops dropped, edges canonicalized u<v, distinct), orient
    every edge from the endpoint that is SMALLER in the (degree, node)
    total order to the larger, and enumerate each triangle exactly once
    as an oriented wedge (a→b, a→c) closed by the oriented edge (b→c).
    Orientation bounds every node's out-degree by O(√m) regardless of
    how skewed the in-degrees are — the hot-hub wedge explosion that
    kills the naive neighbor self-join cannot happen, which is what
    makes this the 10^12-edge formulation.

    Plan shape: degree = one exchange on node; orientation = two
    broadcast-or-shuffle joins of edges⋈degree; wedge enumeration = one
    self-join of the oriented relation on its source; closure = one
    equi-join against the oriented edge set; per-node counts = explode
    the 3 corners + one final exchange.  Shuffle ∝ oriented wedges
    (Σ out_deg², bounded by orientation), never ∝ naive wedges.

    Returns ``(node, n_triangles)`` for every node in the ``(src,
    dst)`` edge set,
    zeros included.  The DuckDB oracle counts the same triangles with
    NO orientation (pure a<b<c edge-chain joins) — an independent
    construction."""
    e = edges.select(F.col("src").alias("x"), F.col("dst").alias("y")).where(
        F.col("x") != F.col("y")
    )
    # the canonical edge set and the oriented relation are each reused
    # 2-3× below; localCheckpoint makes each a leaf (at cluster scale
    # these would be persisted tables) instead of replanning the subtree
    # per reference — without it the plan is an exchange storm.  Even
    # with eager=False each one runs its stages below the last as jobs
    # here, at build time (module docstring); the final stage runs at
    # the first action
    und = (
        e.select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # total-order key: (deg, node) packed into one BIGINT so the wedge
    # inequality is a single long comparison
    okey = (F.col("deg").cast("long") * F.lit(2**32) + F.col("node")).alias(
        "okey"
    )
    keyed = deg.select("node", okey).localCheckpoint(eager=False)
    nodes = keyed.select("node")  # deg already enumerates every node
    du = keyed.select(
        F.col("node").alias("u"), F.col("okey").alias("ku")
    )
    dv = keyed.select(
        F.col("node").alias("v"), F.col("okey").alias("kv")
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("a"),
            F.when(F.col("ku") < F.col("kv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("b"),
            F.when(F.col("ku") < F.col("kv"), F.col("kv"))
            .otherwise(F.col("ku"))
            .alias("kb"),
        )
        .localCheckpoint(eager=False)
    )
    w1 = oriented.select(
        F.col("a"), F.col("b").alias("w_b"), F.col("kb").alias("w_kb")
    )
    w2 = oriented.select(
        F.col("a"), F.col("b").alias("w_c"), F.col("kb").alias("w_kc")
    )
    wedges = w1.join(w2, "a").where(F.col("w_kb") < F.col("w_kc"))
    closing = oriented.select(
        F.col("a").alias("w_b"), F.col("b").alias("w_c")
    )
    tris = wedges.join(closing, ["w_b", "w_c"]).select(
        F.col("a"), F.col("w_b").alias("b"), F.col("w_c").alias("c")
    )
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    counts = corners.groupBy("node").agg(
        F.count("*").alias("n_triangles")
    )
    return (
        nodes.join(counts, "node", "left")
        .na.fill({"n_triangles": 0})
        .select("node", F.col("n_triangles").cast("long").alias("n_triangles"))
    )


def _l1_normalize(scores: DataFrame, col: str) -> DataFrame:
    """Rescale nonneg integer ticks so they sum to ≤ ``SCALE``:
    t' = t·SCALE DIV Σt, floor division computed in DECIMAL(38,0) so
    the t·SCALE product can't overflow BIGINT (the DuckDB twin uses
    HUGEINT — identical floors for nonnegative operands).  The total
    is a one-row broadcast cross join (house scalar pattern), so the
    step adds one partial-aggregated reduce, no wide exchange."""
    tot = scores.agg(F.sum(col).alias("__tot"))
    return (
        scores.crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.expr(
                # an all-zero gather total would make DIV emit NULL
                # ticks and silently poison every later iteration —
                # fail loudly instead (raise_error is never reached on
                # a graph with ≥1 edge, where init ticks propagate)
                f"CASE WHEN __tot <= 0 THEN CAST(raise_error("
                f"'hits: non-positive L1 total') AS BIGINT) "
                f"ELSE CAST(CAST({col} AS DECIMAL(38,0)) * {SCALE}"
                f" DIV __tot AS BIGINT) END"
            ).alias(col),
        )
    )


def hits(edges: DataFrame) -> DataFrame:
    """Kleinberg HITS hub/authority scores over ``(src, dst)`` edges —
    the link-quality pair web pipelines read next to PageRank
    (authorities ≈ canonical content pages, hubs ≈ link directories;
    spam detection reads the gap between them).  The reference repo has
    no graph surface; charter is the north rule's web-corpus superset,
    like :func:`pagerank`.

    Exact cross-engine parity: all state is integer ticks.  Each
    half-iteration is the mutual-reinforcement sum (auth(v) = Σ hub(u)
    over in-edges, hub(u) = Σ auth(v) over out-edges) followed by L1
    tick normalization (``_l1_normalize`` — floor division, DECIMAL
    widened), so the DuckDB oracle's unrolled CTE matches bit-for-bit
    with no float-summation-order tolerance.  L1 replaces the
    textbook L2 norm — same fixpoint direction, integer-exact.

    Scale: per half-iteration one shuffle join edges⋈scores plus one
    partial-aggregated exchange on the opposite endpoint — shuffle ∝
    edges, state ∝ nodes, the same discipline as ``pagerank``.  Each
    half-iteration ends in ``localCheckpoint(eager=False)``, which runs
    its stages below the last at build time (module docstring): 42
    Spark jobs before the caller's first action on sf0.01.

    Returns ``(node, auth_ticks, hub_ticks)`` for every node."""
    e, nodes = _edges_and_nodes(edges)
    n = nodes.count()
    if n == 0:
        raise ValueError("hits over an empty edge set")
    init = SCALE // n

    def _gather(scores: DataFrame, col: str, frm: str, to: str,
                out: str) -> DataFrame:
        raw = (
            e.join(scores.withColumnRenamed("node", frm), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(col).alias(out))
        )
        return nodes.join(raw, "node", "left").select(
            "node",
            F.coalesce(out, F.lit(0).cast("long")).alias(out),
        )

    hub = nodes.withColumn("hub_ticks", F.lit(init).cast("long"))
    for _ in range(HITS_ITERS):
        auth = _l1_normalize(
            _gather(hub, "hub_ticks", "src", "dst", "auth_ticks"),
            "auth_ticks",
        ).localCheckpoint(eager=False)
        hub = _l1_normalize(
            _gather(auth, "auth_ticks", "dst", "src", "hub_ticks"),
            "hub_ticks",
        ).localCheckpoint(eager=False)
    return auth.join(hub, "node")


def label_propagation(edges: DataFrame) -> DataFrame:
    """Synchronous label-propagation community detection over ``(src,
    dst)`` edges (Raghavan,
    Albert & Kumara 2007) — the near-linear community finder web-corpus
    pipelines run next to PageRank: mirror farms and template clusters
    collapse into one community, and per-community quotas then cap how
    much of the training mix any one clique can claim.  Complements
    ``dedup.connected_components`` (CC merges anything touching;
    LPA splits a connected graph into densely-knit parts).

    Determinism (the classic LPA pitfall is update-order dependence):
    updates are SYNCHRONOUS over ``LPA_ITERS`` rounds, and the
    update rule is exact —

        label_i(v) = the most frequent label among v's neighbors at
                     i-1, ties broken by the SMALLEST label

    implemented as ``max(struct(cnt, -label))`` so both engines reduce
    with pure BIGINT comparisons; no hash-partition order, no RNG, no
    floats.  The graph is treated as undirected and simple (symmetrized,
    self-loops dropped, distinct); isolated nodes cannot occur in an
    edge list, so every node has >= 1 neighbor and the argmax is total.

    Scale: per iteration one edges-join on the label side plus one
    partial-aggregated shuffle on (node, label) — shuffle is ∝ edges,
    map-side combine collapses hot labels before the exchange, and the
    struct-max needs no window sort.  Each round ends in
    ``localCheckpoint(eager=False)`` as in ``pagerank``/``hits``;
    driver state O(1).
    """
    und = _undirected(edges, "src", "dst")
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("community", F.col("node").cast("long"))
    )
    if labels.count() == 0:
        raise ValueError("label_propagation over an empty edge set")
    for _ in range(LPA_ITERS):
        counts = (
            und.join(
                labels.select(
                    F.col("node").alias("b"),
                    F.col("community").alias("lbl"),
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"), F.col("lbl"))
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"),
                        (-F.col("lbl")).alias("neg"),
                    )
                ).alias("m")
            )
            .select(
                "node",
                (-F.col("m.neg")).cast("long").alias("community"),
            )
            .localCheckpoint(eager=False)
        )
    return labels


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_rounds: int = 64,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983;
    Batagelj-Zaveršnik): repeatedly delete every node whose degree in
    the SURVIVING subgraph is below ``k`` until stable; what remains is
    the unique maximal subgraph of minimum degree ``k``.  The density
    signal a corpus pipeline reads over the NEAR-DUP pair graph:
    isolated duplicate pairs and short chains peel away, while template
    farms / mirror clusters — every member co-duplicated with many
    others — survive as the core, so "farm membership" falls out
    without any threshold on pair counts.  Complements
    ``triangle_counts`` (closed wedges) and ``label_propagation``
    (partitioning): the core is a GLOBAL fixpoint, stable under any
    update order.

    Returns ``(node, core_deg)`` for core members — ``core_deg`` is
    the node's degree INSIDE the core (≥ k by construction); empty
    when no k-core exists.  The graph is treated as undirected and
    simple (symmetrized, self-loops dropped, distinct); all counts
    BIGINT, no floats anywhere.

    Scale: each round is one partial-aggregated degree exchange plus
    two semi-joins on the endpoint — shuffle ∝ surviving edges, never
    more than the input; the surviving edge set only shrinks, so later
    rounds are cheaper.  Convergence is detected with an O(1) driver
    count (edge count is strictly monotone down until the fixpoint).
    ``max_rounds`` bounds the peeling depth (the rounds that remove
    edges), one more round confirms: :func:`_fixpoint`.
    """
    if k < 1:
        raise ValueError("kcore requires k >= 1")
    und = _undirected(edges, src, dst)
    n_edges = und.count()
    if n_edges == 0:
        raise ValueError("kcore over an empty edge set")

    def peel(und: DataFrame) -> DataFrame:
        alive = (
            und.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("a")
        )
        return (
            und.join(alive, "a", "left_semi")
            .join(alive.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )

    und, _ = _fixpoint(
        und, peel, DataFrame.count, n_edges, max_rounds, "kcore"
    )
    return und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("core_deg")
    )


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Full core decomposition — every node's coreness (the largest
    ``k`` for which it survives in the k-core) in ONE pass, via the
    distributed h-index iteration (Lü, Zhou, Zhang & Stanley, "The
    H-index of a network node", 2016): start from the degree and
    repeatedly replace each node's value with the H-index of its
    neighbors' values; the sequence is per-node monotone non-increasing
    and its fixpoint is exactly the coreness.  Where :func:`kcore`
    answers "who is in THE k-core" for one chosen k, this yields the
    whole peeling ladder at once — corpus pipelines bucket near-dup
    farms by coreness tier (2 = simple mirror loops, higher = template
    factories) without picking k up front.

    Exact BIGINT throughout: the H-index of a sorted-descending value
    list is the count of positions with ``value >= rank`` — pure
    integer comparisons, tie-order-free (equal values are
    interchangeable under that predicate), so both engines agree
    bit-for-bit.  Undirected-simple normalization as in
    :func:`label_propagation`; every node in an edge list has >= 1
    neighbor, so the H-index is total.

    Scale: per round one edges⋈values shuffle plus one
    partial-collected groupBy on the node — shuffle ∝ edges; the
    per-node neighbor-value array is degree-bounded (for billion-degree
    hubs swap the array form for the windowed running-count form).
    Convergence is an O(1) driver check: values only ever decrease, so
    a stable BIGINT sum means a stable vector.  ``max_rounds`` bounds
    the rounds that change a value, one more confirms: :func:`_fixpoint`.
    """
    und = _undirected(edges, src, dst)
    if und.count() == 0:
        raise ValueError("coreness over an empty edge set")
    h = und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("h")
    )

    def h_index(h: DataFrame) -> DataFrame:
        nb = und.join(
            h.select(F.col("node").alias("b"), F.col("h").alias("hb")),
            "b",
        )
        return (
            nb.groupBy(F.col("a").alias("node"))
            .agg(
                F.sort_array(F.collect_list("hb"), asc=False).alias("hs")
            )
            .select(
                "node",
                F.expr(
                    "CAST(size(filter(zip_with(hs,"
                    " sequence(1, size(hs)),"
                    " (x, r) -> x >= r), p -> p)) AS LONG)"
                ).alias("h"),
            )
        )

    def h_sum(h: DataFrame) -> int:
        return h.agg(F.sum("h")).first()[0]

    h, _ = _fixpoint(h, h_index, h_sum, h_sum(h), max_rounds, "coreness")
    return h.select("node", F.col("h").alias("coreness"))


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-bucketed in/out degree distribution of ``(src, dst)`` edges
    — the first chart a web-graph audit draws (a crawl frontier is
    healthy when the tail is power-law-ish; a sudden fat bucket is a
    link farm or a crawler trap).  One row per (direction, log2 bucket)
    with the node count and the exact min/max degree inside the bucket.

    The bucket is ``floor(log2(degree))`` computed WITHOUT floats:
    ``length(bin(degree)) - 1`` (the binary-string length trick) —
    pure integer/string ops in both engines, so parity needs no
    rounding rule at all; bucket bounds come back via BIGINT shifts.

    Plan: two partial-agged exchanges (one per direction — out-degree
    groups on src, in-degree on dst), then a union and one tiny
    (direction, bucket) aggregate; shuffle ∝ edges pre-combine, output
    ∝ log2(max degree).  Multi-edges are counted as distinct links
    (the graph is simplified first, same as every operator here)."""
    e = edges.select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    ).where(F.col("s") != F.col("d")).distinct()
    out_deg = e.groupBy(F.col("s").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    ).withColumn("direction", F.lit("out"))
    in_deg = e.groupBy(F.col("d").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    ).withColumn("direction", F.lit("in"))
    both = out_deg.union(in_deg)
    bucket = (F.length(F.bin(F.col("deg"))) - 1).cast("int")
    return (
        both.withColumn("bucket", bucket)
        .groupBy("direction", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
        .withColumn(
            "deg_lo", F.expr("shiftleft(CAST(1 AS BIGINT), bucket)")
        )
        .withColumn(
            "deg_hi",
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1"),
        )
    )
