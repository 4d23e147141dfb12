"""URL-facet extraction semantics (operators/webstats.py): literal
URL shapes through the Hive parse_url path, and the rollup plan."""

from __future__ import annotations

import pyspark.sql.functions as F

from gclog_parser_spark.operators.webstats import (
    synth_urls,
    url_facet_rollup,
    url_facets,
)


def test_url_facets_literal_shapes(spark):
    df = spark.createDataFrame(
        [
            (1, "https://www.example.com/en/p1"),
            (2, "http://cdn.example.org:8080/de/p2/index.html"),
            (3, "https://example.com/fr/p3?ref=rss&id=3"),
            (4, "https://example.org/"),
        ],
        "doc_id int, url string",
    )
    rows = {r["doc_id"]: r for r in url_facets(df).collect()}

    assert rows[1]["host"] == "www.example.com"
    assert rows[1]["tld"] == "com"
    assert rows[1]["is_https"] is True
    assert rows[1]["port"] is None
    assert rows[1]["path_depth"] == 2
    assert rows[1]["has_query"] is False

    # explicit port is split off the host; file segment counts
    assert rows[2]["host"] == "cdn.example.org"
    assert rows[2]["port"] == 8080
    assert rows[2]["is_https"] is False
    assert rows[2]["path_depth"] == 3

    # query string detected, not part of the path
    assert rows[3]["has_query"] is True
    assert rows[3]["path_depth"] == 2

    # bare root path
    assert rows[4]["path_depth"] == 0


def test_synth_urls_deterministic_and_heterogeneous(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = synth_urls(docs).select("url")
    a = sorted(r["url"] for r in urls.collect())
    b = sorted(r["url"] for r in urls.collect())
    assert a == b  # pure function of doc_id/source/lang
    assert any(u.startswith("http://") for u in a)
    assert any(":8080/" in u for u in a)
    assert any("?ref=rss" in u for u in a)
    assert any("/index.html" in u for u in a)


def test_url_rollup_single_exchange(spark, sf_dir):
    """Facet extraction is scan-side; the rollup pays exchanges only
    for the aggregation itself (partial map-side + the exact-distinct
    expansion), never an extra repartition of the corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        url_facet_rollup(synth_urls(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exact countDistinct plans as a two-phase expand-aggregate:
    # exchanges on (tld,is_https,host) then (tld,is_https) — and no
    # Python evaluation anywhere in the URL path
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocklist_label_boundary_and_longest_rule(spark):
    from gclog_parser_spark.operators.webstats import url_blocklist_filter

    rows = [
        (1, "https://src1.org/a"),         # exact rule match
        (2, "https://www.src1.org/a"),     # subdomain -> blocked
        (3, "https://src11.org/a"),        # label boundary -> NOT blocked
        (4, "https://a.b.src1.org/x"),     # deep subdomain -> blocked
        (5, "https://cdn.src7.org/y"),     # longest of two matching rules
        (6, "https://clean.example/z"),    # no rule
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    rules = ["src1.org", "src7.org", "cdn.src7.org"]
    got = {
        r["doc_id"]: (r["blocked"], r["matched_rule"])
        for r in url_blocklist_filter(df, rules).collect()
    }
    assert got[1] == (True, "src1.org")
    assert got[2] == (True, "src1.org")
    assert got[3] == (False, None)
    assert got[4] == (True, "src1.org")
    # both src7.org and cdn.src7.org match host cdn.src7.org — the
    # most specific (longest) rule is reported
    assert got[5] == (True, "cdn.src7.org")
    assert got[6] == (False, None)


def test_blocklist_joins_broadcast_rules(spark):
    """The rule relation must broadcast (it is the small dim); the
    corpus side never shuffles for the match itself — only the
    per-doc best-rule aggregate exchanges on doc_id."""
    from gclog_parser_spark.operators.webstats import url_blocklist_filter

    df = spark.createDataFrame(
        [(i, f"https://h{i}.example.com/p") for i in range(50)],
        "doc_id long, url string",
    )
    plan = (
        url_blocklist_filter(df, ["example.com"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_canonicalize_url_rules_and_idempotence(spark):
    from gclog_parser_spark.operators.webstats import canonicalize_url

    cases = [
        # fragment dropped, host/scheme lowercased, default port gone
        ("HTTP://WWW.Ex.COM:80/a/b#frag", "http://www.ex.com/a/b"),
        (":443 stripped only for https",
         None),  # placeholder replaced below
        ("https://ex.org:443/x/", "https://ex.org/x"),
        # non-default port survives; tracking params dropped;
        # remaining params sorted
        ("https://ex.org:8080/p?utm_source=a&b=2&a=1&gclid=z#x",
         "https://ex.org:8080/p?a=1&b=2"),
        # bare authority → '/'; empty query after filtering → none
        ("https://Ex.org?utm_campaign=c", "https://ex.org/"),
        # :443 NOT stripped under http
        ("http://ex.org:443/p", "http://ex.org:443/p"),
    ]
    cases[1] = cases[5]
    rows = [(i, u) for i, (u, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    got = {
        r["doc_id"]: r["canon_url"]
        for r in canonicalize_url(df).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
    # idempotence: canon(canon(u)) == canon(u)
    canon = spark.createDataFrame(
        [(i, c) for i, c in got.items()], "doc_id int, url string"
    )
    twice = {
        r["doc_id"]: r["canon_url"]
        for r in canonicalize_url(canon).collect()
    }
    assert twice == got
    # scan-side: no exchange anywhere
    plan = (
        canonicalize_url(df)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Exchange" not in plan


def _py_hamilton(pages_per_host, budget):
    total = sum(pages_per_host.values())
    base = {h: budget * n // total for h, n in pages_per_host.items()}
    rem = {h: budget * n % total for h, n in pages_per_host.items()}
    leftover = budget - sum(base.values())
    order = sorted(pages_per_host, key=lambda h: (-rem[h], h))
    for h in order[:leftover]:
        base[h] += 1
    return base


def test_crawl_budget_matches_python_hamilton(spark):
    from gclog_parser_spark.operators.webstats import crawl_budget

    # the 10,000-slot budget over host mixes whose remainders differ:
    # four uneven hosts, a 9,999:2 skew, and 7 single-page hosts
    for pages in (
        {"a.com": 7, "b.com": 3, "c.org": 13, "d.org": 1},
        {"x.io": 9999, "y.io": 2},
        {f"h{i}.net": 1 for i in range(7)},
    ):
        rows = [
            (i, f"https://{h}/p{i}")
            for i, h in enumerate(
                h for h, n in sorted(pages.items()) for _ in range(n)
            )
        ]
        df = spark.createDataFrame(rows, "doc_id int, url string")
        want = _py_hamilton(pages, 10_000)
        got = {
            r["host"]: (r["n_pages"], r["quota"])
            for r in crawl_budget(df).collect()
        }
        assert {h: q for h, (_, q) in got.items()} == want
        assert {h: n for h, (n, _) in got.items()} == pages
        assert sum(q for _, q in got.values()) == 10_000


def test_crawl_budget_remainder_tie_breaks_by_host_asc(spark):
    from gclog_parser_spark.operators.webstats import crawl_budget

    # three hosts, one page each, budget 10,000: quotas 3333 each,
    # remainder tie (10000 % 3 == 1 for all) -> the single leftover
    # slot goes to the lexicographically smallest host.
    df = spark.createDataFrame(
        [(0, "https://zz.org/p"), (1, "https://aa.com/p"),
         (2, "https://mm.net/p")],
        "doc_id int, url string",
    )
    got = {r["host"]: r["quota"] for r in crawl_budget(df).collect()}
    assert got == {"aa.com": 3334, "mm.net": 3333, "zz.org": 3333}


def test_crawl_budget_drops_unparseable_urls(spark):
    """Malformed URLs (parse_url -> NULL host) must not pool into a
    phantom NULL-host group and claim quota — fail-empty parity with
    the oracle's regexp side."""
    from gclog_parser_spark.operators.webstats import crawl_budget

    df = spark.createDataFrame(
        [(0, "https://a.com/p"), (1, "https://a.com/q"),
         (2, "not a url"), (3, "also::bad")],
        "doc_id int, url string",
    )
    got = {r["host"]: (r["n_pages"], r["quota"])
           for r in crawl_budget(df).collect()}
    assert got == {"a.com": (2, 10_000)}
