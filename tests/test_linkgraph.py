"""Link-graph operators: URL resolution branches, PageRank against a
pure-Python reference implementation, invariants (mass conservation,
dangling handling), and plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webxtract.linkgraph import host_graph, outlinks, pagerank

BASE = "https://www.site.example/a/b/page.html"

RESOLVE_CASES = [
    # (raw link, expected resolved or None=dropped)
    ("https://other.example/x?q=1", "https://other.example/x?q=1"),
    ("HTTP://UPPER.example/y", "HTTP://UPPER.example/y"),  # absolute: as-is
    ("//cdn.example/lib.js", "https://cdn.example/lib.js"),
    ("/root/path", "https://www.site.example/root/path"),
    ("rel/page", "https://www.site.example/rel/page"),  # site-root resolution
    ("#frag-only", None),
    ("", None),
    ("javascript:void(0)", None),
    ("MAILTO:a@b.example", None),
    ("/keep#strip-frag", "https://www.site.example/keep"),
]


def test_resolve_link_branches(spark):
    from webxtract.linkgraph import resolve_link_expr

    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(RESOLVE_CASES)], "i int, raw string"
    )
    got = {
        r["i"]: r["resolved"]
        for r in df.select(
            "i", resolve_link_expr(F.col("raw"), F.lit(BASE)).alias("resolved")
        ).collect()
    }
    for i, (raw, want) in enumerate(RESOLVE_CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def test_outlinks_extract_and_dedup(spark):
    html = (
        '<html><body><a href="/a">1</a><a href="/a">dup</a>'
        '<a href="#x">frag</a><a href="https://z.example/p">abs</a>'
        "<p>no links here</p></body></html>"
    ).encode()
    df = spark.createDataFrame(
        [("https://h.example/page", bytearray(html))], "url string, html binary"
    )
    rows = sorted(r["outlink"] for r in outlinks(df).collect())
    assert rows == ["https://h.example/a", "https://z.example/p"]


def test_host_graph_counts(spark):
    links = spark.createDataFrame(
        [
            ("https://a.example/1", "https://b.example/x"),
            ("https://a.example/2", "https://b.example/y"),
            ("https://a.example/1", "https://a.example/self"),
        ],
        "url string, outlink string",
    )
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(links).collect()
    }
    assert got == {("a.example", "b.example"): 2, ("a.example", "a.example"): 1}


def _reference_pagerank(edges, iterations=5, damping=0.85):
    """Pure-Python mirror of the documented definition."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {t for _, t in e})
    n = len(nodes)
    out = {v: 0 for v in nodes}
    for s, _ in e:
        out[s] += 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for s, t in e:
            contrib[t] += r[s] / out[s]
        dangling = sum(r[v] for v in nodes if out[v] == 0)
        r = {
            v: round(
                (1.0 - damping) / n
                + damping * (contrib[v] + dangling / n),
                9,
            )
            for v in nodes
        }
    return {v: round(r[v], 6) for v in nodes}


@pytest.mark.parametrize(
    "edges",
    [
        # two pages voting for a hub, hub dangles
        [(1, 3), (2, 3)],
        # cycle + dangling sink + self-loop
        [(1, 2), (2, 3), (3, 1), (1, 4), (5, 5), (2, 4)],
        # star: hub links out to every leaf, leaves link back
        [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)],
    ],
)
def test_pagerank_matches_reference(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    want = _reference_pagerank(edges)
    assert got == pytest.approx(want, abs=2e-6)


def test_pagerank_reliable_checkpoint_option(spark, tmp_path):
    """checkpoint_dir switches iteration pinning to RELIABLE
    checkpointing (survives executor loss on a real cluster): results
    must be bit-identical to the localCheckpoint default, and RDD
    checkpoint files must actually land in the directory."""
    import os

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (2, 1), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    cp = str(tmp_path / "pr_cp")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, checkpoint_dir=cp, checkpoint_every=2).collect()
    }
    want = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    assert got == want
    found = [f for _, _, fs in os.walk(cp) for f in fs]
    assert found, "no reliable checkpoint files written"


def test_pagerank_mass_conserved_and_hub_wins(spark):
    # 20 pages all vote for node 100; with dangling redistribution the
    # total mass stays 1 and the hub dominates
    edges = [(i, 100) for i in range(20)] + [(i, i + 1) for i in range(19)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank(df).collect()
    total = sum(r["rank"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-4)
    ranks = {r["node"]: r["rank"] for r in rows}
    assert ranks[100] == max(ranks.values())


def test_outlinks_plan_is_narrow(spark):
    """Extraction + resolution must be a pure projection over the scan:
    the only Exchange allowed is the dropDuplicates one."""
    html = b'<html><a href="/x">l</a></html>'
    df = spark.createDataFrame(
        [("https://h.example/p", bytearray(html))], "url string, html binary"
    )
    from tests.test_plans import _plan, _python_node_names

    out = outlinks(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # exactly the distinct
    assert _python_node_names(_plan(out)) == []


def test_anchor_texts_zip_and_nofollow(spark):
    html = (
        '<html><body><a href="/a">one</a>'
        '<a href="/b" rel="nofollow">two </a>'
        '<a href="/dup">x</a><a href="/dup">y</a>'
        '<a href="/dup">x</a>'  # exact dup collapses
        "</body></html>"
    ).encode()
    df = spark.createDataFrame(
        [("https://h.example/p", bytearray(html))], "url string, html binary"
    )
    from webxtract.linkgraph import anchor_texts

    rows = {
        (r["outlink"], r["anchor_text"]): r["nofollow"]
        for r in anchor_texts(df).collect()
    }
    assert rows == {
        ("https://h.example/a", "one"): False,
        ("https://h.example/b", "two"): True,  # trimmed + nofollow
        ("https://h.example/dup", "x"): False,
        ("https://h.example/dup", "y"): False,
    }
    kept = anchor_texts(df, drop_nofollow=True).collect()
    assert all(not r["nofollow"] for r in kept) and len(kept) == 3


def test_robots_meta_flags(spark):
    from webxtract.linkgraph import robots_meta_exprs

    cases = [
        ('<meta name="robots" content="noindex, follow">', True, False),
        ('<meta name="robots" content="index, nofollow">', False, True),
        ('<meta name="robots" content="none">', True, True),
        ('<meta name="robots" content="noindexing">', False, False),  # no substring match
        ("", False, False),
    ]
    df = spark.createDataFrame(
        [(i, f"<html><head>{tag}</head></html>") for i, (tag, _, _) in enumerate(cases)],
        "i int, h string",
    )
    r = robots_meta_exprs(F.col("h"))
    got = {
        row["i"]: (row["ni"], row["nf"])
        for row in df.select(
            "i", r["robots_noindex"].alias("ni"), r["robots_nofollow"].alias("nf")
        ).collect()
    }
    for i, (_, ni, nf) in enumerate(cases):
        assert got[i] == (ni, nf), f"case {i}"


def test_robots_rules_longest_match(spark):
    from webxtract.linkgraph import robots_verdicts

    robots = spark.createDataFrame(
        [("h.example",
          "User-agent: googlebot\nDisallow: /\n\n"
          "User-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow:\n")],
        "host string, robots_txt string",
    )
    cases = [
        ("https://h.example/private/ok/1", True),   # Allow out-lengths Disallow
        ("https://h.example/private/no", False),
        ("https://h.example/public", True),
        ("https://h.example", True),                # '' -> '/' no match
        ("https://other.example/private/no", True), # no robots row
    ]
    urls = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r["url"]: r["allowed"] for r in robots_verdicts(urls, robots).collect()}
    for u, want in cases:
        assert got[u] == want, u


def test_robots_verdicts_broadcasts_rules(spark):
    from webxtract.linkgraph import robots_verdicts

    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /x\n")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame([("https://h.example/x/1",)], "url string")
    plan = (
        robots_verdicts(urls, robots)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_bm25_reference_values(spark):
    """BM25 against hand-computed Lucene-form scores on a 3-doc corpus."""
    import math

    from webxtract.textops import bm25_scores

    docs = [
        (0, "spark shuffle join join"),
        (1, "parquet scan filter"),
        (2, "join the party"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ("join",)).collect()}

    n, dfr = 3, 2
    avgdl = (4 + 3 + 3) / 3
    idf = math.log((n - dfr + 0.5) / (dfr + 0.5) + 1.0)

    def s(tf, dl):
        return round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))), 6)

    assert got == {0: s(2, 4), 1: 0.0, 2: s(1, 3)}


def test_crawl_delay_parse_branches(spark):
    from webxtract.linkgraph import crawl_delay_expr

    rows = [
        (0, "User-agent: *\nCrawl-delay: 7\nDisallow: /x\n"),
        (1, "User-agent: googlebot\nCrawl-delay: 9\n\nUser-agent: *\nDisallow: /\n"),
        (2, "User-agent: *\nDisallow: /\n"),
        (3, None),
        # delay AFTER other directives in the UA-* section still counts
        (4, "User-agent: *\nDisallow: /a\nCrawl-delay: 3\n"),
        # RFC 9309: field names case-insensitive; CRLF line endings
        (5, "user-agent: *\r\ncrawl-delay: 4\r\ndisallow: /b\r\n"),
    ]
    df = spark.createDataFrame(rows, "id long, robots_txt string")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", crawl_delay_expr(F.col("robots_txt")).alias("d")
        ).collect()
    }
    assert got == {0: 7, 1: None, 2: None, 3: None, 4: 3, 5: 4}


def test_frontier_schedule_ranks_caps_and_delays(spark):
    from webxtract.linkgraph import frontier_schedule

    urls = spark.createDataFrame(
        [
            ("https://a.example/1", 10),
            ("https://a.example/2", 30),
            ("https://a.example/3", 20),
            ("https://b.example/1", 5),
        ],
        "url string, priority long",
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nCrawl-delay: 4\n")],
        "host string, robots_txt string",
    )
    got = {
        r["url"]: (r["host_rank"], r["fetch_at_sec"])
        for r in frontier_schedule(
            urls, robots=robots, max_per_host=2, default_delay_sec=1
        ).collect()
    }
    # a.example: /2 (prio 30) first, /3 (20) second, /1 capped out;
    # delays 0s and 4s. b.example: default 1s delay, rank 1 -> 0s.
    assert got == {
        "https://a.example/2": (1, 0),
        "https://a.example/3": (2, 4),
        "https://b.example/1": (1, 0),
    }


def test_host_components_clusters_and_singleton_loop(spark):
    from webxtract.linkgraph import host_components

    edges = spark.createDataFrame(
        [
            ("a.example", "b.example"),
            ("b.example", "c.example"),   # chain a-b-c
            ("x.example", "y.example"),   # separate pair
            ("z.example", "z.example"),   # self-loop only
        ],
        "src_host string, dst_host string",
    )
    got = {r["host"]: r["component"] for r in host_components(edges).collect()}
    assert got == {
        "a.example": "a.example",
        "b.example": "a.example",
        "c.example": "a.example",
        "x.example": "x.example",
        "y.example": "x.example",
        "z.example": "z.example",
    }


def test_host_components_many_partitions_non_ascii(many_partitions):
    """Across 16 uncoalesced partitions, a random host graph with
    non-ASCII (IDN) hosts and self-loops gets the union-find labels:
    the component is the code-point smallest host."""
    import random

    from tests.test_curation import _union_find_components
    from webxtract.linkgraph import host_components

    rng = random.Random(5)
    labels = ["a", "b", "ü", "é", "中文", "xn--bcher-kva", "ß", "z"]
    hosts = sorted(
        {".".join(rng.choices(labels, k=2)) + ".example" for _ in range(200)}
    )
    edges = [tuple(rng.sample(hosts, 2)) for _ in range(150)]
    edges += [(h, h) for h in hosts[:5]]
    df = many_partitions.createDataFrame(edges, "src_host string, dst_host string")
    got = {r["host"]: r["component"] for r in host_components(df).collect()}
    assert got == _union_find_components(edges)


def test_sitemap_entries_block_scoped_lastmod(spark):
    """lastmod attaches only to its OWN <url> block; loc whitespace is
    trimmed; a sitemapindex yields children but zero url entries; junk
    input yields empty arrays, not NULLs."""
    from webxtract.linkgraph import sitemap_children_expr, sitemap_entries_expr

    urlset = (
        "<urlset><url><loc> https://a.example/1 </loc>"
        "<lastmod>2026-02-01</lastmod></url>"
        "<url><loc>https://a.example/2</loc></url></urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://a.example/s1.xml</loc>"
        "</sitemap><sitemap><loc> https://a.example/s2.xml </loc>"
        "</sitemap></sitemapindex>"
    )
    df = spark.createDataFrame(
        [(1, urlset), (2, index), (3, "not xml"), (4, None)],
        "id long, xml string",
    )
    got = {
        r["id"]: (r["e"], r["c"])
        for r in df.select(
            "id",
            sitemap_entries_expr(F.col("xml")).alias("e"),
            sitemap_children_expr(F.col("xml")).alias("c"),
        ).collect()
    }
    e1 = got[1][0]
    assert [x["loc"] for x in e1] == [
        "https://a.example/1", "https://a.example/2"
    ]
    assert e1[0]["lastmod"] == "2026-02-01" and e1[1]["lastmod"] is None
    assert got[1][1] == []
    assert got[2][0] == [] and got[2][1] == [
        "https://a.example/s1.xml", "https://a.example/s2.xml"
    ]
    assert got[3] == ([], []) and got[4] == ([], [])
