"""Per-sink aggregates (north rule; FIXTURES.md §5).

Per ``(sink, hour(warc_ts))``: exact event counts, exact heap-reclaimed
sums, pause p50/p99.

Skew note (SURVEY.md §4): the datagen puts ~70 % of pages in one hot
hour.  For *algebraic* aggregates (count/sum) Spark's hash aggregate
already does map-side partial aggregation — each map task emits one
partial row per (sink, hour), so the hot key arrives at the reducer
pre-collapsed and salting adds nothing but a second shuffle.  The
explicit two-stage salted variant is still provided
(``per_sink_hourly_salted``) for the pattern's sake and for future
non-collapsible aggregates; benchmarks compare both.  Percentiles use
``percentile_approx`` (a partially-mergeable sketch, so it too
pre-aggregates map-side).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gclog_parser_spark.operators.rates import pause_ticks
from gclog_parser_spark.operators.route import with_sink

ACCURACY = 10000


def per_sink_hourly(events: DataFrame, exact: bool = False) -> DataFrame:
    """count / heap-reclaimed sum / pause p50+p99 per (sink, hour).

    ``exact=True`` swaps approx percentiles for exact ``percentile`` —
    used when matching the DuckDB oracle at small scale; production uses
    the sketch.
    """
    routed = events if "sink" in events.columns else with_sink(events)
    pct = (
        F.expr("percentile(pause_seconds, array(0.5, 0.99))")
        if exact
        else F.percentile_approx(
            "pause_seconds", F.array(F.lit(0.5), F.lit(0.99)), F.lit(ACCURACY)
        )
    )
    return (
        routed.groupBy(
            "sink", F.date_trunc("hour", "warc_ts").alias("hour")
        )
        .agg(
            F.count("*").alias("events"),
            F.sum("heap_reclaimed_bytes").alias("heap_reclaimed_sum"),
            pct.alias("pause_pcts"),
        )
        .select(
            "sink",
            "hour",
            "events",
            "heap_reclaimed_sum",
            F.col("pause_pcts")[0].alias("pause_p50"),
            F.col("pause_pcts")[1].alias("pause_p99"),
        )
    )


def per_sink_hourly_salted(events: DataFrame) -> DataFrame:
    """Explicit two-stage salted aggregation for the algebraic measures:
    stage 1 groups by (sink, hour, hash(url) % 16) — the hot hour fans
    out over 16 reducers — stage 2 merges the partials."""
    routed = events if "sink" in events.columns else with_sink(events)
    salted = routed.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(16))
    )
    partial = salted.groupBy(
        "sink", F.date_trunc("hour", "warc_ts").alias("hour"), "salt"
    ).agg(
        F.count("*").alias("pc"),
        F.sum("heap_reclaimed_bytes").alias("ps"),
    )
    return partial.groupBy("sink", "hour").agg(
        F.sum("pc").alias("events"),
        F.sum("ps").alias("heap_reclaimed_sum"),
    )


def events_per_collector(events: DataFrame) -> DataFrame:
    """Counts per broadcast-joined collector family (FIXTURES.md §5)."""
    routed = events if "family" in events.columns else with_sink(events)
    return routed.groupBy("family").agg(
        F.count("*").alias("events"),
        F.sum("heap_reclaimed_bytes").alias("heap_reclaimed_sum"),
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Gaps-and-islands sessionization on the JVM-age axis: events in a
    log separated by more than 30 s of JVM age start a new
    session — the classic two-window pattern (lag flag → running sum),
    here yielding GC "activity bursts" per JVM with their pause budget.

    Both windows and the final aggregate cluster on hash(url), so the
    whole operator costs ONE exchange; like the rates window it scales
    with the number of logs, not events-per-reducer."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("event_idx")
    prev_age = F.lag("jvm_age_seconds").over(w)
    is_new = F.when(
        prev_age.isNull()
        | (F.col("jvm_age_seconds") - prev_age > 30.0),
        1,
    ).otherwise(0)
    flagged = events.select(
        "url",
        "event_idx",
        "jvm_age_seconds",
        "pause_seconds",
        is_new.alias("is_new"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = flagged.withColumn(
        "session_id", (F.sum("is_new").over(wc) - 1).cast("int")
    )
    return sess.groupBy("url", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.min("jvm_age_seconds"), 6).alias("start_age"),
        F.round(F.max("jvm_age_seconds"), 6).alias("end_age"),
        F.round(F.sum("pause_seconds"), 6).alias("total_pause"),
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding event-time window aggregation (`F.window` with a slide —
    the overlapping-window twin of the tumbling hourly rollups): per
    (event_type, window-start) over 600 s windows sliding every 300 s,
    count rows and sum ``value``.

    Spark assigns each row to its duration/slide overlapping windows
    scan-side (a generator projection, no extra shuffle), then the
    aggregate is one ordinary partial-aggregated exchange — identical
    scale shape to a tumbling group-by, just duration/slide× the rows
    out of the generator.  Output window_start as an epoch-seconds
    BIGINT (portable to the oracle).
    """
    win = F.window(
        F.col("ts").cast("timestamp"), "600 seconds", "300 seconds"
    )
    return (
        events.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def value_histogram(
    df: DataFrame,
    col: str = "pause_seconds",
    lo: float = 0.0,
    hi: float = 4.0,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram of a numeric column (the 'pause-time
    distribution per sink' dashboard primitive): bin index in
    [0, n_bins), with underflow clamped to 0 and overflow to
    n_bins - 1; nulls dropped.  Pure scan-side arithmetic + one
    partial-aggregated exchange on ~n_bins keys — the cheapest
    possible distributed histogram."""
    width = (hi - lo) / n_bins
    bin_ = F.least(
        F.greatest(
            F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(0)
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min(col), 6).alias("bin_min"),
            F.round(F.max(col), 6).alias("bin_max"),
        )
    )


def skew_stats(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key-skew diagnosis — the measurement that decides whether a
    groupBy/join key needs salting (`per_sink_hourly_salted`,
    `rel_shuffle_join_salted`) or AQE's skew split.  Per heavy key:
    row count, share of the table, and the skew ratio vs a perfectly
    uniform key (count / (total/distinct)); a ratio >> shuffle-
    partition count means one reducer owns the key and salting pays.

    Two partial-aggregated exchanges (key counts, then the global
    top-5 via distributed TakeOrdered) — both ∝ distinct keys, never
    rows.  Deterministic order: (n desc, key asc)."""
    key = [F.col(c).cast("string").alias(c) for c in key_cols]
    counts = df.select(*key).groupBy(*key_cols).agg(
        F.count("*").alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n") * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("n"), *[F.asc(c) for c in key_cols])
        .limit(5)
    )


def kmv_distinct(
    df, group_col: str, value_col: str, k: int = 64
):
    """KMV (k-minimum-values) distinct-count sketch per group — the
    mergeable approximate-distinct a 10^12-row pipeline uses instead
    of exact countDistinct (a KMV sketch is a fixed k-row state that
    unions by keeping the k smallest hashes; HLL is the same idea with
    tighter constants).  DETERMINISTIC by construction: the hash is
    the first 32 bits of md5, so — unlike approx_count_distinct's
    opaque HLL++ — the estimate is bit-reproducible and the DuckDB
    oracle computes the identical number: estimate =
    (k-1) · 2³² / h_k, exact count when a group has < k distinct
    hashes.

    Output: (group, n_exact, kmv_estimate) — exact kept alongside so
    callers (and the tests) can bound the error.  Scale: ONE exchange
    on (group, hash) for the distinct, a k-bounded per-group window,
    and a tiny final aggregate; n_exact shares the same distinct
    relation (no second scan).
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    d = df.select(F.col(group_col), h.alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = d.withColumn("rn", F.row_number().over(w))
    # ONE aggregation over the ranked distinct relation: exact count,
    # k-th minimum, and in-sketch count together (a single FileScan —
    # pinned in tests/test_plan_quality.py)
    agg = ranked.groupBy(group_col).agg(
        F.count("*").alias("n_exact"),
        F.max(F.when(F.col("rn") <= k, F.col("h"))).alias("hk"),
        F.sum((F.col("rn") <= k).cast("long")).alias("m"),
    )
    est = F.when(
        F.col("m") < k, F.col("m").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(k - 1)) * 4294967296.0 / F.col("hk"), 6
        )
    )
    return agg.select(group_col, "n_exact", est.alias("kmv_estimate"))


def kmv_sketch(df, group_col: str, value_col: str, k: int = 64):
    """The KMV sketch STATE itself: per group, the k smallest distinct
    32-bit value hashes — ≤ k rows per group, the thing a distributed
    aggregation tree actually ships between levels.  See
    :func:`kmv_merge` for the mergeability contract."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    d = df.select(F.col(group_col), h.alias("h")).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(group_col, "h")
    )


def kmv_merge(sketches, group_col: str, k: int = 64):
    """Merge KMV sketches: union the per-partition sketch states and
    keep the k smallest distinct hashes per group.

    THE property that makes a sketch a sketch: merge(sketch(A),
    sketch(B)) == sketch(A ∪ B) exactly — the k smallest of a union
    are found among the k smallest of each side — so partial sketches
    built independently per shard/day/site combine losslessly at any
    tree depth.  The contract query proves it: the merged estimate is
    value-identical to the whole-table estimate."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return _kmv_top(out, group_col, k)


def _kmv_top(d, group_col: str, k: int):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("h")
    return (
        d.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(group_col, "h")
    )


def kmv_estimate(sketch, group_col: str, k: int = 64):
    """(group, kmv_estimate) from a sketch state — same estimator as
    :func:`kmv_distinct` ((k−1)·2³²/h_k; exact m when m < k)."""
    import pyspark.sql.functions as F

    agg = sketch.groupBy(group_col).agg(
        F.max("h").alias("hk"), F.count("*").alias("m")
    )
    est = F.when(
        F.col("m") < k, F.col("m").cast("double")
    ).otherwise(
        F.round((k - 1) * 4294967296.0 / F.col("hk"), 6)
    )
    return agg.select(group_col, est.alias("kmv_estimate"))


def heavy_hitters(df: DataFrame, col: str, k: int = 100) -> DataFrame:
    """EXACT heavy hitters — items whose count strictly exceeds n/k —
    via the canonical bounded-state two-pass plan (Misra–Gries
    candidates, then exact verification), the 100 TB answer to "top
    words" when a global groupBy would shuffle 10^11 distinct keys.

    Pass 1 (candidates): a per-partition Misra–Gries summary over the
    Arrow batches — state ≤ ``4·k`` counters regardless of
    partition size — emitting each partition's surviving items plus
    its row count.  The superset guarantee is arithmetic: if an item's
    global count exceeds n/k then some partition has count_p > n_p/k
    (otherwise summing the per-partition bounds gives ≤ n/k), and MG
    with capacity ≥ k under-counts by at most n_p/(capacity+1) ≤
    n_p/k, so that item survives there.  Candidate volume is
    ≤ 4·k·partitions rows — never the distinct-item count.

    Pass 2 (exact): the raw column left-semi-joins the broadcast
    candidate set (scan-side filter, nothing shuffles but matches),
    one partial-aggregated exchange over candidate items only, and
    the threshold is exact integer cross-multiplication
    ``cnt · k > n`` — no float boundary.  Any candidate-set variation
    between runs (MG survivors depend on batch order) is filtered
    back to the same exact answer, so the OUTPUT is deterministic
    even though the sketch state is not.

    The DuckDB oracle is a plain GROUP BY … HAVING over all items —
    a genuinely different (unbounded-state) algorithm.

    Returns (item, cnt, share) ordered (cnt DESC, item ASC).
    """
    cap = 4 * k

    def _mg(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        n_p = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            n_p += len(vals)
            merged = counters.add(vals.value_counts(), fill_value=0)
            if len(merged) > cap:
                # subtract the (cap+1)-th largest residual: zeroes out
                # at least len-cap counters, removes ≥ (cap+1)·t mass,
                # so Σt over a partition ≤ n_p/(cap+1)
                t = merged.nlargest(cap + 1).iloc[-1]
                merged = merged - t
                merged = merged[merged > 0]
            counters = merged
        out = pd.DataFrame(
            {
                "item": counters.index.astype(str),
                "cnt": counters.to_numpy("int64"),
                "is_total": False,
            }
        )
        yield pd.concat(
            [out, pd.DataFrame(
                {"item": [None], "cnt": [n_p], "is_total": [True]}
            )],
            ignore_index=True,
        )

    summary = (
        df.select(F.col(col).cast("string").alias(col))
        .mapInPandas(_mg, "item string, cnt long, is_total boolean")
        # tiny (≤ cap·partitions rows); materialize once so the totals
        # and the candidate set don't each re-scan the corpus
        .localCheckpoint(eager=True)
    )
    total = summary.where("is_total").agg(F.sum("cnt").alias("n_total"))
    cands = summary.where(~F.col("is_total")).select("item").distinct()
    exact = (
        df.select(F.col(col).cast("string").alias("item"))
        .join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * k > F.col("n_total"))
        .select(
            "item",
            "cnt",
            F.round(F.col("cnt") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy(F.desc("cnt"), F.asc("item"))
    )


def quantile_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = 128,
) -> DataFrame:
    """Bottom-k quantile sketch STATE: per group, the ``value_col`` of
    the ``k`` rows whose md5 hash of ``key_col`` is smallest — a
    deterministic uniform sample (the hash of a unique row key is a
    uniform draw, but replayable under task retry, unlike ``rand()``),
    ≤ k rows per group no matter the group's size.

    This completes the repo's sketch family — KMV (distinct count),
    Misra–Gries (heavy hitters), Bloom (membership) — with the
    quantile member.  Same mergeability contract as KMV: the bottom-k
    of a union is found among each side's bottom-k, so per-shard
    sketches combine losslessly at any tree depth
    (:func:`quantile_sketch_merge`), which is what lets a 10^12-row
    quantile run as a two-level aggregation instead of a global sort.

    NULL values are excluded (a NULL is not a sample point).  Ties in
    ``h`` break by value so both engines rank identically.
    """
    from pyspark.sql import Window

    from gclog_parser_spark.operators.dedup import md5_long

    d = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        F.col(value_col).alias("v"),
        md5_long(F.col(key_col).cast("string")).alias("h"),
    )
    w = Window.partitionBy(group_col).orderBy("h", "v")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(group_col, "v", "h")
    )


def quantile_sketch_merge(
    sketches: list[DataFrame], group_col: str, k: int = 128
) -> DataFrame:
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly — union
    the states, keep the bottom-k per group again.  The contract query
    proves it: the two-level (per-shard sketch → merge) estimate is
    value-identical to the oracle's single-level sketch."""
    from pyspark.sql import Window

    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    w = Window.partitionBy(group_col).orderBy("h", "v")
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(group_col, "v", "h")
    )


def sketch_quantiles(sketch: DataFrame, group_col: str) -> DataFrame:
    """Quantile estimates from the sketch: per group, sort the sampled
    values and PICK the element at ``floor((n-1)·p)`` — a selected
    value, never an interpolation, so the output is exact and both
    engines agree bit-for-bit.  Returns (group, n_sample, p50, p90,
    p99) with one aggregation over ≤ k rows per group."""
    agg = sketch.groupBy(group_col).agg(
        F.count("*").alias("n_sample"),
        F.array_sort(F.collect_list("v")).alias("vs"),
    )
    cols = [F.col(group_col), F.col("n_sample")]
    for p in (0.5, 0.9, 0.99):
        idx = F.floor((F.col("n_sample") - 1) * F.lit(p)).cast("int") + 1
        cols.append(
            F.element_at("vs", idx).alias(f"p{int(p * 100)}")
        )
    return agg.select(*cols)


def kmv_pair_intersections(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """Theta-sketch-style SET INTERSECTION on KMV sketches (the
    DataSketches algebra: once per-group sketches exist, union /
    intersect / difference estimates come from the sketches alone —
    no rescan of the raw data).  For every unordered pair of groups:
    keep the common hashes below θ = least(θ_a, θ_b) (θ_x = the k-th
    minimum when the group has ≥ k distinct hashes, else the full
    2³² hash space — an exact sketch), estimate
    ``|A∩B| ≈ |common<θ| · 2³² / θ``.  When both sketches are exact
    the estimate IS the exact intersection (θ = 2³² collapses the
    formula to the common count).

    Deterministic md5 hashing end-to-end, so the DuckDB oracle
    computes the identical estimate; ``n_exact`` (the true distinct
    overlap) rides along to bound the error.  Pairs come from the
    cross of observed groups (tiny dim × dim), so zero-overlap pairs
    appear with zeros rather than vanishing.

    Scale: one (group, hash) distinct exchange shared by sketch and
    exact sides; sketches are ≤ k rows per group, so the pair join is
    dim-sized; the exact side is one self-equi-join on the hash of the
    SAME distinct relation (output ∝ true overlaps).
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    d = df.select(F.col(group_col).alias("g"), h.alias("h")).distinct()
    w = Window.partitionBy("g").orderBy("h")
    n_w = Window.partitionBy("g")
    r = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(n_w)
    )
    sk = r.where(F.col("rn") <= k)
    FULL = 4294967296  # 2^32: the md5-prefix hash space
    th = sk.groupBy("g").agg(
        F.when(F.max("n") >= k, F.max("h"))
        .otherwise(F.lit(FULL))
        .alias("theta")
    )
    pairs = (
        th.select(F.col("g").alias("ga"), F.col("theta").alias("ta"))
        .crossJoin(
            th.select(F.col("g").alias("gb"), F.col("theta").alias("tb"))
        )
        .where(F.col("ga") < F.col("gb"))
        .withColumn("theta", F.least("ta", "tb"))
    )
    common = (
        sk.alias("a")
        .join(sk.alias("b"), "h")
        .where(F.col("a.g") < F.col("b.g"))
        .select(
            F.col("a.g").alias("ga"), F.col("b.g").alias("gb"), "h"
        )
    )
    samp = (
        common.join(F.broadcast(pairs.select("ga", "gb", "theta")),
                    ["ga", "gb"])
        .where(F.col("h") < F.col("theta"))
        .groupBy("ga", "gb")
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        d.alias("a")
        .join(d.alias("b"), "h")
        .where(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(F.count("*").alias("n_exact"))
    )
    # samp and exact are ≤ C(groups, 2) rows — broadcast them so the
    # final assembly adds zero exchanges (the only real shuffles left
    # are the (group, hash) distinct and the two hash equi-joins)
    return (
        pairs.join(F.broadcast(samp), ["ga", "gb"], "left")
        .join(F.broadcast(exact), ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0)).cast("double")
                * float(FULL)
                / F.col("theta"),
                6,
            ).alias("est_intersection"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        )
    )


def agg_state(ev: DataFrame) -> DataFrame:
    """Algebraic aggregate STATE per group — (n, value_ticks_sum,
    min_value_ticks, max_value_ticks) — the mergeable partial an
    incrementally-maintained materialized view stores.  count/sum/
    min/max are the algebraic functions whose states merge losslessly;
    integer ticks make the sums exact in both engines."""
    ticks = pause_ticks("value")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(ticks).alias("value_ticks_sum"),
        F.min(ticks).alias("min_value_ticks"),
        F.max(ticks).alias("max_value_ticks"),
    )


def merge_agg_states(states: list[DataFrame]) -> DataFrame:
    """Incremental materialized-view refresh: union the per-batch
    states and fold — ``merge(state(base), state(delta)) ==
    state(base ∪ delta)`` exactly, so refreshing an MV after an append
    touches ONLY the delta rows plus O(groups) state rows, never the
    base table.  At 10^12 accumulated rows that is the difference
    between a per-commit full recompute and a per-commit delta scan.
    The contract query proves it: base snapshot state + CDC
    incremental-read delta state, merged, hash-equals the oracle's
    whole-table aggregate."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("value_ticks_sum").alias("value_ticks_sum"),
        F.min("min_value_ticks").alias("min_value_ticks"),
        F.max("max_value_ticks").alias("max_value_ticks"),
    )


# --- HyperLogLog distinct sketch (cross-engine deterministic) -------

HLL_W_BITS = 40  # rho source bits; registers hold rho in [1, 40]


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant (Table on p. 140)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 4,
) -> DataFrame:
    """Per-group HyperLogLog register relation ``(group…, reg, r)`` —
    the mergeable state.  Register index = first ``p`` bits of
    ``md5('hll:'||value)`` (p a multiple of 4 so it is a hex-substring
    in BOTH engines); rho = position of the leftmost 1-bit in the next
    40 bits, computed as ``41 - length(bin(w))`` — ``bin`` (minimal
    binary string, '0' for 0) is the same function in Spark and DuckDB,
    so the sketch is bit-identical cross-engine, unlike
    approx_count_distinct whose sketch is engine-private.

    Scale shape: ONE hash-aggregate on (group, reg) with map-side
    partial max — state per group is m=2^p counters no matter how many
    rows, and states merge by register-max, so per-day/per-batch
    sketches roll up without rescanning history (the streaming/MV
    story of ``merge_agg_states``, for COUNT DISTINCT)."""
    if p % 4 or not 4 <= p <= 20:
        raise ValueError("p must be a multiple of 4 in [4, 20]")
    digest = F.md5(
        F.concat(F.lit("hll:"), F.col(value_col).cast("string"))
    )
    reg = F.conv(F.substring(digest, 1, p // 4), 16, 10).cast("long")
    w = F.conv(
        F.substring(digest, p // 4 + 1, HLL_W_BITS // 4), 16, 10
    ).cast("long")
    rho = (F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))).cast("int")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, reg.alias("reg"))
        .agg(F.max(rho).alias("r"))
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 4,
    registers: DataFrame | None = None,
) -> DataFrame:
    """Approximate COUNT DISTINCT per group from the HLL register
    relation (pass ``registers`` to estimate from pre-merged state).

    The harmonic mean is EXACT integer math: each register contributes
    ``2^(40 - r)`` ticks (absent registers contribute ``2^40``), so
    the cross-partition sum is associative BIGINT — no float-order
    drift — and the one double division at the end is computed from
    identical integers in both engines.  Worst case ticks =
    ``2^(p+40)`` so BIGINT is safe through p=20 (m=1,048,576).

    Raw HLL estimate only (no small-range linear-counting branch: it
    needs ``ln``, whose libm rounding is engine-private; the sketch is
    for the 10^6-10^12 distinct regime where the raw estimator is the
    right branch anyway).  Standard error ≈ 1.04/√m."""
    m = 1 << p
    regs = (
        registers
        if registers is not None
        else hll_registers(df, group_cols, value_col, p)
    )
    one = F.lit(1).cast("long")
    sketch = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W_BITS} - r)")
        ).alias("_present_ticks"),
        F.count("*").alias("regs_used"),
    )
    ticks = F.col("_present_ticks") + (
        F.lit(m).cast("long") - F.col("regs_used")
    ) * F.shiftleft(one, HLL_W_BITS)
    est = (
        F.lit(_hll_alpha(m) * m * m)
        * F.shiftleft(one, HLL_W_BITS).cast("double")
        / ticks.cast("double")
    )
    return sketch.select(
        *group_cols,
        F.round(est, 4).alias("est_distinct"),
        F.col("regs_used").cast("int").alias("regs_used"),
    )


def hll_rollup(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 4,
) -> DataFrame:
    """Merge a FINER-grained HLL register relation up to
    ``group_cols`` and estimate — the sketch-hierarchy rollup.

    Register max is associative and commutative, so merging the
    per-(sink, hour) register relation up to per-sink (or to one
    global row with ``group_cols=[]``) yields BIT-IDENTICAL registers
    to sketching the raw rows at the coarse grain directly.  That is
    the 10^12-row distinct-count story: sketch each partition / day /
    micro-batch once at the finest grain you will ever query, store
    the O(groups × 2^p) register relation, and answer every coarser
    COUNT DISTINCT from it by a register-max re-aggregation — no
    rescan of history, and the rollup input is sketch-sized, not
    corpus-sized.  (``approx_count_distinct`` cannot do this: its
    binary sketch is engine-private and not exposed for re-grouping.)
    """
    merged = registers.groupBy(*group_cols, "reg").agg(
        F.max("r").alias("r")
    )
    return hll_distinct(None, group_cols, "", p=p, registers=merged)


def mad_anomalies(
    rel: DataFrame,
    value_col: str = "n",
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier flags via median absolute deviation — the
    telemetry anomaly detector (median/MAD shrug off the very outliers
    a mean/stddev rule would absorb).  Flags rows where
    ``value > median + k·max(MAD, 1)``.

    Scale shape: the input relation is usually a pre-collapsed
    aggregate (e.g. per-hour counts — tiny however big the raw table),
    and both stats reduce it to ONE broadcast row each, so the flagging
    pass is a scan with two broadcast joins — no second shuffle of the
    raw data.  Exact ``percentile`` keeps cross-engine parity (counts
    are integers; the interpolated midpoints are exact binary
    fractions)."""
    v = F.col(value_col)
    med1 = rel.agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    mad1 = (
        rel.crossJoin(F.broadcast(med1))
        .agg(
            F.expr(
                f"percentile(abs({value_col} - med), 0.5)"
            ).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return rel.crossJoin(F.broadcast(mad1)).select(
        *rel.columns,
        "med",
        "mad",
        (
            v
            > F.col("med")
            + F.lit(k) * F.greatest(F.col("mad"), F.lit(1.0))
        ).alias("is_anomaly"),
    )


# --- Count-Min frequency sketch (cross-engine deterministic) --------

CMS_DEPTH = 4
CMS_WIDTH = 512  # power of two; counters per row


def cms_counters(df: DataFrame, value_col: str) -> DataFrame:
    """Count-Min sketch counter relation ``(row_idx, bucket, cnt)`` —
    the mergeable frequency-estimate state (Cormode & Muthukrishnan
    2005): row j hashes the value with an independent salted md5, the
    estimate is the min over rows, error is one-sided (never under).

    Complements the exact sketches: `heavy_hitters` (Misra-Gries)
    answers "which keys are heavy" exactly; CMS answers "roughly how
    often is ANY key" in O(depth·width) state per sketch however many
    distinct keys exist — the per-key frequency dashboard over a
    10^11-distinct-key stream.  One exchange on (row, bucket) with
    map-side partial sums; sketches merge by counter addition (exact,
    associative BIGINT), so per-batch/per-day sketches roll up."""
    from gclog_parser_spark.operators.dedup import md5_long

    rows = F.explode(
        F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    ).alias("row_idx")
    v = F.col(value_col).cast("string")
    keyed = df.where(F.col(value_col).isNotNull()).select(
        v.alias("_v"), rows
    )
    bucket = F.pmod(
        md5_long(F.concat(F.lit("cms"), F.col("row_idx").cast("string"),
                          F.lit(":"), F.col("_v"))),
        F.lit(CMS_WIDTH),
    )
    return keyed.groupBy("row_idx", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    probes: DataFrame, counters: DataFrame, value_col: str
) -> DataFrame:
    """Point-estimate each probe key against the counter relation:
    est = min over rows of the key's counter (0 if the bucket is
    empty).  The probe side re-derives the same salted buckets
    scan-side and equi-joins the counters (broadcast: the sketch is
    O(depth·width) rows by construction), so estimating 10^6 probes
    costs one map-side join — the sketch never rescans the stream."""
    from gclog_parser_spark.operators.dedup import md5_long

    rows = F.explode(
        F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
    ).alias("row_idx")
    v = F.col(value_col).cast("string")
    keyed = probes.select(F.col(value_col), v.alias("_v"), rows)
    bucket = F.pmod(
        md5_long(F.concat(F.lit("cms"), F.col("row_idx").cast("string"),
                          F.lit(":"), F.col("_v"))),
        F.lit(CMS_WIDTH),
    )
    return (
        keyed.withColumn("bucket", bucket)
        .join(F.broadcast(counters), ["row_idx", "bucket"], "left")
        .groupBy(value_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def journey_paths(events: DataFrame) -> DataFrame:
    """Top-20 user journeys: sessionize per user_id (gaps-and-islands
    on a 30-minute gap), take each session's first 5 event_type steps in
    (ts, event_id) order, and count identical paths — the funnel
    discovery that tells you which flows actually happen (vs
    `rel_funnel`, which scores one hypothesized flow, and
    `rel_transitions`, which only sees pairs).

    Scale shape: ONE exchange on ``user_id`` shared by the session and
    step-rank windows, the path aggregate collapses map-side (paths
    are short strings), and the top-k is ORDER BY+LIMIT — Spark plans
    TakeOrderedAndProject, a map-side partial top-k that never sorts
    the full path relation.  Deterministic: step order and the
    (count DESC, path) cut are total orders in both engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_s = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev_ts.cast("timestamp"))
            > 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    sess = events.select(
        "user_id", "ts", "event_id", "event_type", new_s.alias("_new")
    ).withColumn(
        "_sid",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "_sid").orderBy("ts", "event_id")
    steps = sess.withColumn("_step", F.row_number().over(ws)).where(
        F.col("_step") <= 5
    )
    paths = steps.groupBy("user_id", "_sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_step", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


DECAY_SCALE_BITS = 40  # weight ticks: 2^(40 - age); age caps at 40


def decayed_counts(events: DataFrame) -> DataFrame:
    """Freshness-weighted ('trending') counts with EXACT exponential
    decay: each row weighs 2^-age_days (half-life = one day), summed
    as integer ticks ``2^(40 - min(age, 40))`` — powers of two make
    the decay exact BIGINT arithmetic, so the cross-partition sum is
    associative and both engines agree bit-for-bit (a float
    ``pow(0.5, age)`` sum would drift with partition order).  Ages
    beyond 40 days decay below one tick and round to zero by
    construction.

    The anchor is the table's max timestamp (one broadcast row); at
    scale this is the classic trending dashboard: one scan, map-side
    partial sums, state = one (group) row however many events."""
    anchor = events.agg(
        F.max(F.to_date("ts")).alias("_anchor")
    )
    aged = events.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.least(
            F.datediff("_anchor", F.to_date("ts")),
            F.lit(DECAY_SCALE_BITS),
        ).alias("_age"),
    )
    ticks = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {DECAY_SCALE_BITS} - _age)"
    )
    return aged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ticks).alias("decayed_ticks"),
        F.round(
            F.sum(ticks)
            / F.lit(float(1 << DECAY_SCALE_BITS)),
            6,
        ).alias("trend_score"),
    )


def cms_spans(events: DataFrame) -> DataFrame:
    """Point-events → intervals: pair each ``CMS-concurrent-X-start``
    event with the next ``CMS-concurrent-X`` completion in the same
    log (the reference parses both as separate events,
    Parser.scala CmsEvent — the pairing is new surface; it is the
    generic 'assemble request start/end lines into spans' operator
    every log pipeline needs).

    Rule: within (url, phase) in line order, a start whose NEXT event
    is a completion forms a span; consecutive starts (abandoned
    cycle) and trailing unmatched starts yield nothing — exact,
    deterministic, no self-join.  Duration is BIGINT JVM-age
    milliseconds (trunc, same tick rule as gc_rates).  Plan: filter →
    ONE exchange on (url, phase) for the lead() window; span volume ∝
    concurrent phases, never ∝ events."""
    from pyspark.sql import Window

    cms = events.where(
        (F.col("gc_class") == "cms")
        & F.col("gc_type").startswith("CMS-concurrent-")
    ).select(
        "url",
        "line_no",
        F.regexp_replace("gc_type", "-start$", "").alias("phase"),
        F.col("gc_type").endswith("-start").alias("is_start"),
        (F.col("jvm_age_seconds") * 1000).cast("long").alias("age_ms"),
    )
    w = Window.partitionBy("url", "phase").orderBy("line_no")
    paired = cms.select(
        "url",
        "phase",
        "line_no",
        "is_start",
        "age_ms",
        F.lead("is_start").over(w).alias("next_is_start"),
        F.lead("age_ms").over(w).alias("next_age_ms"),
    ).where(
        F.col("is_start")
        & (F.col("next_is_start") == F.lit(False))
    )
    w2 = Window.partitionBy("url", "phase").orderBy("line_no")
    return paired.select(
        "url",
        "phase",
        (F.row_number().over(w2) - 1).cast("int").alias("span_idx"),
        F.col("age_ms").alias("start_age_ms"),
        F.col("next_age_ms").alias("end_age_ms"),
        (F.col("next_age_ms") - F.col("age_ms")).alias("duration_ms"),
    )
