"""URL / domain analytics over a web corpus.

A Common-Crawl-style pipeline (BASELINE.json input_hint: pages keyed
by ``url``) constantly needs per-domain rollups — crawl budgeting,
per-site quality gates, robots/licensing partitions, sink routing by
registrable domain.  These operators extract URL facets with Spark's
JVM-side ``parse_url`` (whole-stage codegen, zero Python, zero
shuffle) and aggregate per facet; the DuckDB oracle re-derives every
facet with plain regexps — a genuinely independent implementation of
RFC-3986-ish splitting, so parity is meaningful.

Scale: facet extraction is scan-side (no exchange); the rollup is one
partial-aggregated exchange on a tiny (tld, scheme) key.  Exact
distinct-host counts use Spark's two-phase distinct expansion — at
10^12 pages swap ``countDistinct`` for ``approx_count_distinct`` (the
HLL sketch) per the docstring on ``url_facet_rollup``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window


def synth_urls(docs: DataFrame) -> DataFrame:
    """Deterministic heterogeneous URLs from (doc_id, source, lang) —
    the driver ``documents`` table carries no url column, so tests and
    the contract synthesize one: mixed scheme / subdomain / tld /
    port / trailing file / query string, all pure functions of doc_id
    so the DuckDB oracle rebuilds the identical strings."""
    d = F.col("doc_id")
    return docs.withColumn(
        "url",
        F.concat(
            F.when(d % 7 == 0, F.lit("http")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(d % 3 == 0, F.lit("www."))
            .when(d % 5 == 0, F.lit("cdn."))
            .otherwise(F.lit("")),
            F.col("source"),
            F.when(d % 2 == 0, F.lit(".com")).otherwise(F.lit(".org")),
            F.when(d % 11 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/"),
            F.col("lang"),
            F.lit("/p"),
            (d % 100).cast("string"),
            F.when(d % 4 == 0, F.lit("/index.html")).otherwise(F.lit("")),
            F.when(d % 6 == 0,
                   F.concat(F.lit("?ref=rss&id="), d.cast("string"))
            ).otherwise(F.lit("")),
        ),
    )


def url_facets(df: DataFrame) -> DataFrame:
    """Per-row facets of the ``url`` column via ``parse_url`` (Hive/Java
    URL splitting, codegen): host (port-free), registrable tld label,
    scheme flag, explicit port, path depth (non-empty segment count),
    query-string presence.  Adds columns; scan-side only."""
    url = F.col("url")
    host = F.parse_url(url, F.lit("HOST"))
    authority = F.parse_url(url, F.lit("AUTHORITY"))
    path = F.parse_url(url, F.lit("PATH"))
    return (
        df.withColumn("host", host)
        .withColumn("tld", F.regexp_extract(F.col("host"), r"\.([a-z]+)$", 1))
        .withColumn("is_https", url.startswith("https://"))
        .withColumn(
            "port",
            F.nullif(
                F.regexp_extract(authority, r":(\d+)$", 1), F.lit("")
            ).cast("int"),
        )
        .withColumn(
            "path_depth",
            F.size(F.filter(F.split(path, "/"), lambda s: s != "")),
        )
        .withColumn(
            "has_query", F.parse_url(url, F.lit("QUERY")).isNotNull()
        )
    )


def url_facet_rollup(df: DataFrame) -> DataFrame:
    """Per-(tld, scheme) rollup of the ``url`` column: doc count, EXACT
    distinct hosts, mean path depth, explicit-port and query-string
    counts.  One exchange on the tiny facet key, everything partial
    map-side.  At 10^12 rows replace ``countDistinct(host)`` with
    ``approx_count_distinct(host, 0.01)`` — the exact form is kept here
    because the contract gate value-checks against DuckDB."""
    return (
        url_facets(df)
        .groupBy("tld", "is_https")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.round(F.avg("path_depth"), 6).alias("avg_depth"),
            F.count("port").alias("n_with_port"),
            F.sum(F.col("has_query").cast("long")).alias("n_with_query"),
        )
    )


def url_blocklist_filter(df: DataFrame, rules: list[str]) -> DataFrame:
    """Domain-blocklist filtering with subdomain semantics: a row is
    blocked when the host of its ``url`` IS a rule domain or is a
    *subdomain* of one (label-boundary aware: rule ``src1.org`` blocks
    ``www.src1.org`` but never ``src11.org`` — the bug a naive ``LIKE
    '%src1.org'`` scan has).  Adds ``(host, blocked, matched_rule)``;
    production keeps ``WHERE NOT blocked``.

    Scale shape: each host explodes into its dot-suffixes (≤ label
    count, ~3-5 per row) and equi-joins the rule relation on the
    suffix — O(rows·labels) work and a broadcast join while the rule
    set is small, degrading gracefully to a shuffle equi-join for
    million-rule lists, instead of the O(rows·rules) LIKE cascade a
    per-rule filter would plan.  Most-specific (longest) rule wins
    when several match."""
    spark = df.sparkSession
    rules_df = F.broadcast(
        spark.createDataFrame(
            [(r,) for r in sorted(set(rules))], "matched_rule string"
        )
    )
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    with_host = df.withColumn("host", host)
    labels = F.split("host", r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(labels, i + 1, n - i), "."),
    )
    exploded = with_host.select(
        "doc_id", "host", F.explode(suffixes).alias("suffix")
    )
    hits = (
        exploded.join(
            rules_df, exploded["suffix"] == rules_df["matched_rule"]
        )
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    F.length("matched_rule").alias("l"),
                    F.col("matched_rule").alias("r"),
                )
            )["r"].alias("matched_rule")
        )
    )
    return (
        with_host.join(hits, "doc_id", "left")
        .withColumn("blocked", F.col("matched_rule").isNotNull())
    )


def synth_messy_urls(docs: DataFrame) -> DataFrame:
    """Messy variants of the ``synth_urls`` recipe — uppercase
    scheme/host, explicit default ports, fragments, tracking params,
    unsorted query order, trailing slashes — every choice a pure
    function of doc_id so the DuckDB oracle rebuilds the identical
    strings.  The canonicalization test corpus."""
    d = F.col("doc_id")
    scheme = F.when(d % 7 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    hostbase = F.concat(
        F.when(d % 3 == 0, F.lit("WWW."))
        .when(d % 5 == 0, F.lit("cdn."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 2 == 0, F.lit(".com")).otherwise(F.lit(".org")),
    )
    host = F.when(d % 9 == 0, F.upper(hostbase)).otherwise(hostbase)
    port = (
        F.when(d % 11 == 0, F.lit(":8080"))
        .when(
            d % 13 == 0,
            F.when(d % 7 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/"),
        F.col("lang"),
        F.lit("/p"),
        (d % 100).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    query = (
        F.when(
            d % 6 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                d.cast("string"),
                F.lit("&ref=rss"),
            ),
        )
        .when(d % 10 == 0, F.lit("?b=2&a=1&gclid=xyz"))
        .otherwise(F.lit(""))
    )
    frag = F.when(
        d % 5 == 0, F.concat(F.lit("#sec"), (d % 3).cast("string"))
    ).otherwise(F.lit(""))
    return docs.withColumn(
        "url",
        F.concat(scheme, F.lit("://"), host, port, path, query, frag),
    )


#: query params dropped by canonicalize_url (pure tracking noise)
TRACKING_RE = r"^(utm_[^=]*|fbclid|gclid)="


def canonicalize_url(df: DataFrame) -> DataFrame:
    """URL canonicalization — the dedup key every web pipeline derives
    before URL-level dedup/frontier checks: lowercase scheme+host,
    strip the scheme's default port, drop the fragment, drop tracking
    params (``TRACKING_RE``), sort surviving query params, collapse
    trailing slashes (bare authority → '/').  Idempotent
    (canon(canon(u)) == canon(u), pinned) and entirely codegen
    regexp/array expressions — scan-side, zero shuffle, no Python.

    Adds ``canon_url``, the canonical form of ``url``."""
    u = F.col("url")
    no_frag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(
        F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    )
    auth_raw = F.lower(
        F.regexp_extract(no_frag, r"^[^:]+://([^/?#]*)", 1)
    )
    auth = (
        F.when(
            scheme == "http", F.regexp_replace(auth_raw, ":80$", "")
        )
        .when(
            scheme == "https", F.regexp_replace(auth_raw, ":443$", "")
        )
        .otherwise(auth_raw)
    )
    path_raw = F.regexp_replace(
        F.regexp_extract(no_frag, r"^[^:]+://[^/?#]*([^?#]*)", 1),
        "/+$",
        "",
    )
    path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    q = F.regexp_extract(no_frag, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_RE),
    )
    qs = F.when(
        F.size(params) > 0,
        F.concat(
            F.lit("?"), F.array_join(F.array_sort(params), "&")
        ),
    ).otherwise(F.lit(""))
    return df.withColumn(
        "canon_url", F.concat(scheme, F.lit("://"), auth, path, qs)
    )


def crawl_budget(df: DataFrame) -> DataFrame:
    """Politeness-aware crawl-budget apportionment: split a global fetch
    budget of ``budget = 10_000`` slots across the hosts of ``url``
    PROPORTIONALLY to their page counts with the largest-remainder
    (Hamilton) method — the integer-exact scheduler a recrawl planner runs
    after :func:`url_facet_rollup`: every host gets ``floor(budget * n_pages
    / total)`` slots and the leftover slots go to the largest fractional
    remainders, so the quotas sum to EXACTLY ``budget`` (no float drift, no
    over-fetch) and no host is starved by rounding.

    All arithmetic is BIGINT (`DIV` / `%`); ties on the remainder
    break by host ASC via ``row_number``, so the result is a pure
    function of the input — same discipline as the graph operators.

    Scale: one partial-aggregated exchange on host for the counts
    (shuffle ∝ pages pre-combine, ∝ hosts after); the totals are a
    1-row broadcast; the remainder ranking is a window over HOSTS, not
    pages — at 10^8 hosts swap the global ``row_number`` for a
    range-partitioned two-stage rank (per-partition rank + broadcast
    per-partition counts), same trick as the global top-n operator.
    Output ∝ hosts.
    """
    budget = 10_000
    host = F.try_parse_url(F.col("url"), F.lit("HOST"))
    hosts_rel = (
        df.select(host.alias("host"))
        # unparseable URLs must NOT pool into one NULL-host group and
        # claim quota (try_parse_url -> NULL; plain parse_url THROWS
        # under ANSI, and the oracle's regexp yields ''): drop them on
        # both sides — fail-empty parity, the same rule as the LSH
        # NULL-bucket guard in similarity.py
        .where(F.col("host").isNotNull())
    )
    counts = hosts_rel.groupBy("host").agg(
        F.count("*").alias("n_pages")
    )
    # Σ n_pages over hosts == the page count, so the grand total is a
    # plain global count of the host relation — no second host
    # exchange, no recompute of the groupBy (plan-pinned)
    totals = hosts_rel.agg(F.count("*").cast("long").alias("total"))
    based = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "base", F.expr(f"CAST({budget} AS BIGINT) * n_pages DIV total")
        )
        .withColumn(
            "rem", F.expr(f"CAST({budget} AS BIGINT) * n_pages % total")
        )
    )
    # leftover = budget - Σbase, but Σ rem_i = Σ(B·n_i − N·base_i)
    #          = B·N − N·Σbase = N·leftover  (exact BIGINT identity),
    # so leftover = Σrem DIV N rides the SAME single-partition window
    # the remainder rank needs — no second aggregate over hosts, no
    # second pass over the counts relation in the plan
    w = Window.orderBy(F.col("rem").desc(), F.col("host").asc())
    return (
        based.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "leftover", F.expr("sum(rem) OVER () DIV total")
        )
        .select(
            "host",
            "n_pages",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), F.lit(1))
                .otherwise(F.lit(0))
            ).cast("long").alias("quota"),
        )
    )
