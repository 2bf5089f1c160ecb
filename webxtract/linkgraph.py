"""Web link-graph operators: outlink extraction + resolution, host-level
edge aggregation, and fixed-iteration PageRank.

This is the Common-Crawl-adjacent product a web-scale extraction tier
feeds: every page's hrefs become (src, dst) edges, edges roll up to a
host graph, and PageRank over the graph drives crawl prioritization and
quality weighting (CC publishes exactly this as its host-level web
graph). Reference repo has no analog — this extends the inventory the
way SURVEY.md §2.8 extends it for LLM-data curation.

Scale shapes:

- outlink extraction is a pure-expression layer (regexp_extract_all +
  explode + CASE resolution) — zero Python, stays in whole-stage
  codegen, embarrassingly parallel over the page scan;
- the host graph is one partial-agged groupBy((src_host, dst_host))
  shuffle over (host, host) string pairs — payloads never move;
- PageRank is the classic iterative join: edges are deduplicated and
  materialized ONCE (localCheckpoint — they are re-read every round),
  rank state is a (node, out_deg, rank) frame of two ints + one double,
  and each round is one join + one aggregation + one broadcast of the
  1-row dangling-mass frame. No driver-side collect in the loop; at
  10^12 edges the loop holds because the per-round shuffle carries
  (node, double) only and the iteration count is fixed, not
  data-dependent.

Numeric determinism contract with the DuckDB oracles: every iteration's
rank is rounded to 9 dp in BOTH engines, so cross-engine float-sum
ordering drift (~1e-16 relative per aggregation) is squashed each round
instead of compounding; the final output rounds to 6 dp. Constants are
computed with the same IEEE double operation sequence on both sides
((1 - 0.85) / n, 1.0 / n).

URL-resolution semantics (shared verbatim with the oracle SQL):
fragments are stripped first; empty / javascript: / mailto: links drop;
absolute scheme://... links pass through unchanged; protocol-relative
//host/path takes the base scheme; root-relative /path and bare
relative path resolve against the base's scheme://host site root
(directory-relative resolution is intentionally simplified to
root-relative — documented divergence from RFC 3986 §5.2, acceptable
for graph construction where the host is the unit that matters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webxtract.curation import url_host_expr

HREF_RE = r'href="([^"]*)"'
SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def hrefs_expr(html_text: Column) -> Column:
    """All href attribute values in document order (Java regex ∩ RE2,
    shared with the DuckDB oracle)."""
    return F.regexp_extract_all(html_text, F.lit(HREF_RE), 1)


def resolve_link_expr(link: Column, base_url: Column) -> Column:
    """``link`` resolved against ``base_url`` per the module contract
    (NULL = drop). Pure CASE/regexp expressions."""
    scheme = F.lower(F.regexp_extract(base_url, SCHEME_RE, 1))
    root = F.concat(scheme, F.lit("://"), url_host_expr(base_url))
    l2 = F.regexp_replace(link, "#.*$", "")
    return (
        F.when(l2 == "", F.lit(None).cast("string"))
        .when(F.lower(l2).rlike("^(javascript|mailto):"), F.lit(None).cast("string"))
        .when(l2.rlike(SCHEME_RE), l2)
        .when(l2.startswith("//"), F.concat(scheme, F.lit(":"), l2))
        .when(l2.startswith("/"), F.concat(root, l2))
        .otherwise(F.concat(root, F.lit("/"), l2))
    )


def outlinks(df: DataFrame, id_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct (url, outlink) pairs per page: href extraction +
    resolution as one narrow expression layer over the page scan.
    ``html`` is the binary page payload; it is read through the
    binary->string cast (invalid bytes become replacement chars, never
    an ANSI MALFORMED_CHARACTER_CODING error — crawl payloads include
    PDFs and garbage, and href extraction over replacement-mangled
    bytes simply finds no links)."""
    html_text = F.coalesce(F.col("html").cast("string"), F.lit(""))
    exploded = df.select(
        *id_cols,
        "url",
        F.explode_outer(hrefs_expr(html_text)).alias("raw_link"),
    )
    resolved = exploded.select(
        *id_cols,
        "url",
        resolve_link_expr(F.col("raw_link"), F.col("url")).alias("outlink"),
    )
    return resolved.filter(F.col("outlink").isNotNull()).dropDuplicates(
        [*id_cols, "url", "outlink"]
    )


def host_graph(links: DataFrame) -> DataFrame:
    """Host-level edge weights from page-level links: (src_host,
    dst_host, n_links) — one partial-agged shuffle on the host pair."""
    return (
        links.select(
            url_host_expr(F.col("url")).alias("src_host"),
            url_host_expr(F.col("outlink")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Five-iteration PageRank (damping d = 0.85) with uniform
    dangling-mass redistribution over a directed edge list. Returns (node, rank)
    with rank rounded to 6 dp; sum(rank) ≈ 1.

    Fault tolerance at cluster scale: each iteration truncates lineage
    with ``localCheckpoint`` (executor-local blocks — fast, but lost
    with a lost executor, which on a 1000-executor run means
    recomputing from iteration 0). Passing ``checkpoint_dir`` switches
    the edge/degree base tables and every ``checkpoint_every``-th
    iteration to RELIABLE checkpointing (``DataFrame.checkpoint`` into
    that directory — HDFS/object store on a real cluster), bounding
    any recovery to at most ``checkpoint_every-1`` iterations of
    recompute. Plan shape per iteration is identical either way; the
    numbers are bit-identical (same 9-dp rounding per step).

    Definition (mirrored exactly by the unrolled DuckDB oracle):
    edges deduplicate first (weighted: duplicate (src, dst) weights
    sum); nodes = distinct(src) ∪ distinct(dst); r0 = 1/n for all;
    each iteration
        r'(v) = (1-d)/n + d * (Σ_{(s,v)∈E} r(s)·w(s,v)/out_w(s)
                               + dangling/n)
    where out_w(s) = Σ outgoing weight (unweighted: out-degree),
    dangling = Σ r(s) over out_w(s)=0, each r' rounded to 9 dp
    (see module docstring for why). With ``weight_col`` this is the
    weighted host-level rank Common Crawl publishes for its host web
    graph (edge weight = inter-host link count).
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _pin(df: DataFrame, reliable: bool) -> DataFrame:
        if checkpoint_dir is not None and reliable:
            # reliable checkpoints stay EAGER: their whole point is
            # bounding lost-executor recompute to checkpoint_every-1
            # iterations, which requires materializing as the loop runs
            return df.checkpoint(eager=True)
        # local pins are LAZY (round 6): they exist for lineage
        # truncation, which happens at materialization either way —
        # eager pins cost one scheduled job per iteration, so a 5-iter
        # run paid 6+ driver round trips before the caller's action;
        # lazy pins fuse them into that action (each level is persisted
        # + truncated as the single job computes it). Numbers are
        # bit-identical (same 9-dp round per step).
        return df.localCheckpoint(eager=False)

    if weight_col is None:
        e = (
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .distinct()
            .withColumn("w", F.lit(1.0))
        )
    else:
        e = (
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("double").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    e = _pin(e, reliable=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.sum("w").alias("out_deg"))
    base = _pin(
        nodes.join(deg, nodes.node == deg.src, "left").select(
            "node", F.coalesce("out_deg", F.lit(0.0)).alias("out_deg")
        ),
        reliable=True,
    )
    n = base.count()
    ranks = base.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - 0.85) / n
    for it in range(5):
        contrib = (
            ranks.filter(F.col("out_deg") > 0)
            .join(e, ranks.node == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(F.col("rank") * F.col("w") / F.col("out_deg")).alias("contrib")
            )
        )
        dangling = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            base.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                F.round(
                    F.lit(teleport)
                    + F.lit(0.85)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n))
                    ),
                    9,
                ).alias("rank"),
            )
        )
        ranks = _pin(ranks, reliable=(it + 1) % checkpoint_every == 0)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


ANCHOR_RE = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'
NOFOLLOW_RE = r'<a href="([^"]*)"[^>]*rel="[^"]*nofollow[^"]*"[^>]*>'


def anchor_pairs_expr(html_text: Column) -> Column:
    """Array of (href, anchor_text) structs in document order. Spark's
    regexp_extract_all extracts one group per call, so the two groups
    come from two passes of the SAME pattern zipped positionally —
    identical match sites guarantee alignment (the DuckDB oracle uses
    the same two-pass construction)."""
    hrefs = F.regexp_extract_all(html_text, F.lit(ANCHOR_RE), 1)
    texts = F.regexp_extract_all(html_text, F.lit(ANCHOR_RE), 2)
    return F.arrays_zip(hrefs.alias("href"), texts.alias("anchor_text"))


def anchor_texts(
    df: DataFrame,
    id_cols: tuple[str, ...] = (),
    drop_nofollow: bool = False,
) -> DataFrame:
    """(url, outlink, anchor_text) rows — the anchor-text corpus used
    for link-context training data and search relevance. Same narrow
    expression shape as ``outlinks``; ``drop_nofollow`` excludes links
    whose <a> tag carries rel="nofollow" (crawl-politeness graphs)."""
    html_text = F.coalesce(F.col("html").cast("string"), F.lit(""))
    base = df.select(
        *id_cols,
        "url",
        F.explode_outer(anchor_pairs_expr(html_text)).alias("a"),
        F.regexp_extract_all(html_text, F.lit(NOFOLLOW_RE), 1).alias("__nf"),
    )
    resolved = base.select(
        *id_cols,
        "url",
        resolve_link_expr(F.col("a.href"), F.col("url")).alias("outlink"),
        F.trim(F.col("a.anchor_text")).alias("anchor_text"),
        (F.array_contains(F.col("__nf"), F.col("a.href"))).alias("nofollow"),
    ).filter(F.col("outlink").isNotNull())
    if drop_nofollow:
        resolved = resolved.filter(~F.col("nofollow"))
    return resolved.dropDuplicates([*id_cols, "url", "outlink", "anchor_text"])


def robots_meta_exprs(html_text: Column) -> dict[str, Column]:
    """Per-document robots directives from the <meta name="robots">
    tag: noindex / nofollow / none (none implies both). Pure regex
    expressions; absent tag means indexable. A crawl pipeline applies
    the noindex flag before any text ships to training data."""
    content = F.lower(
        F.regexp_extract(html_text, r'<meta name="robots" content="([^"]*)"', 1)
    )
    has_none = content.rlike(r"(^|[ ,])none($|[ ,])")
    return {
        "robots_noindex": content.rlike(r"(^|[ ,])noindex($|[ ,])") | has_none,
        "robots_nofollow": content.rlike(r"(^|[ ,])nofollow($|[ ,])") | has_none,
    }


# robots.txt handling: the per-host crawl-permission gate. The parser
# covers the RFC 9309 core a curation pipeline needs — the
# `User-agent: *` group's Allow/Disallow path prefixes, longest-match
# precedence with Allow winning ties, no rule = allowed. (Wildcards
# inside paths and crawl-delay are out of scope and documented so.)
# RFC 9309 field names are case-insensitive and real files commonly use
# CRLF line endings, so every consumer normalizes through _robots_text
# (strip \r) and matches directives with (?i).
ROBOTS_SECTION_RE = r"(?si)User-agent: \*\n(.*?)(?:\nUser-agent:|$)"
ROBOTS_RULE_TYPE = "array<struct<prefix:string,allow:boolean>>"


def _robots_text(col: Column) -> Column:
    """NULL-safe, CRLF-normalized robots.txt body."""
    return F.replace(F.coalesce(col, F.lit("")), F.lit("\r"), F.lit(""))


def parse_robots_rules(df: DataFrame) -> DataFrame:
    """(host, rules) with rules = array<(prefix, allow)> from the
    ``User-agent: *`` section; empty-path directives (``Disallow:``
    alone = allow all) drop. Pure regex expressions."""
    sec = F.regexp_extract(
        _robots_text(F.col("robots_txt")), ROBOTS_SECTION_RE, 1
    )

    def tag(pat: str, allow: bool) -> Column:
        return F.transform(
            F.regexp_extract_all(sec, F.lit(pat), 1),
            lambda p: F.struct(p.alias("prefix"), F.lit(allow).alias("allow")),
        )

    rules = F.concat(
        tag(r"(?mi)^Disallow: (\S+)", False), tag(r"(?mi)^Allow: (\S+)", True)
    )
    return df.select("host", rules.alias("rules"))


def robots_allowed_expr(path: Column, rules: Column) -> Column:
    """Longest-prefix-match verdict for ``path`` against a rules array
    (Allow wins length ties; no matching rule = allowed). One
    F.aggregate fold — per-row expression work, no join explosion."""
    zero = F.struct(F.lit(-1).alias("plen"), F.lit(True).alias("allow"))
    best = F.aggregate(
        F.coalesce(rules, F.lit(None).cast(ROBOTS_RULE_TYPE), F.array().cast(ROBOTS_RULE_TYPE)),
        zero,
        lambda acc, r: F.when(
            path.startswith(r["prefix"])
            & (
                (F.length(r["prefix"]) > acc["plen"])
                | ((F.length(r["prefix"]) == acc["plen"]) & r["allow"])
            ),
            F.struct(F.length(r["prefix"]).alias("plen"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return best["allow"]


def url_path_expr(url: Column) -> Column:
    """Path (+query) of a URL; '' normalizes to '/'. """
    p = F.regexp_replace(url, SCHEME_RE + "[^/]*", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_verdicts(urls: DataFrame, robots: DataFrame) -> DataFrame:
    """Every input row plus a boolean ``allowed`` — the robots gate a
    crawl/curation pipeline applies before fetching or shipping a url.

    Scale shape: robots tables are per-HOST (millions of rows at web
    scale, not trillions) — parsed rules are aggregated to one array
    row per host and BROADCAST; the url side never shuffles and the
    verdict is a per-row expression fold."""
    rules = parse_robots_rules(robots).groupBy("host").agg(
        F.flatten(F.collect_list("rules")).alias("rules")
    )
    host = url_host_expr(F.col("url"))
    joined = urls.withColumn("__rhost", host).join(
        F.broadcast(rules), F.col("__rhost") == rules.host, "left"
    )
    allowed = robots_allowed_expr(
        url_path_expr(F.col("url")), F.col("rules")
    )
    return joined.select(*urls.columns, allowed.alias("allowed"))


CRAWL_DELAY_RE = r"(?mi)^Crawl-delay: (\d+)"


def crawl_delay_expr(robots_txt: Column) -> Column:
    """Per-host ``Crawl-delay`` (seconds) from the ``User-agent: *``
    section of robots.txt; NULL when the directive is absent (callers
    coalesce to their politeness default). Non-standard but
    widely-published directive; integer-seconds form only. Directive
    name matched case-insensitively over the CRLF-normalized body."""
    sec = F.regexp_extract(_robots_text(robots_txt), ROBOTS_SECTION_RE, 1)
    d = F.regexp_extract(sec, CRAWL_DELAY_RE, 1)
    return F.when(d != "", d.cast("long")).otherwise(
        F.lit(None).cast("long")
    )


def frontier_schedule(
    urls: DataFrame,
    robots: DataFrame | None = None,
    max_per_host: int = 1000,
    default_delay_sec: int = 1,
) -> DataFrame:
    """Politeness-aware crawl-frontier schedule: ranks each host's
    candidate urls by (priority DESC, url ASC), caps the per-host
    queue at ``max_per_host``, and assigns every surviving url the
    earliest second it may be fetched under the host's robots.txt
    ``Crawl-delay`` (one fetch per host per delay window — the
    sequencing every polite crawler derives from its frontier).
    Output: ``(url, host, <priority>, host_rank, fetch_at_sec)`` with
    ``fetch_at_sec = (host_rank - 1) * delay``.

    Scale shape: the per-host ranking is the TWO-PHASE salted window
    (curation.host_cap_sample) — a hot host with 10^8 candidates never
    lands in one window partition, and only (url, host, priority)
    ever shuffles. Crawl-delays are per-HOST (millions of rows at web
    scale) and join BROADCAST, same contract as robots_verdicts; no
    delay row means ``default_delay_sec``."""
    from webxtract.curation import host_cap_sample

    base = urls.select(
        F.col("url"),
        url_host_expr(F.col("url")).alias("host"),
        F.col("priority"),
    )
    ranked = host_cap_sample(
        base,
        cap=max_per_host,
        host_col="host",
        id_col="url",
        order_col="priority",
    )
    delay = F.lit(int(default_delay_sec)).cast("long")
    if robots is not None:
        delays = robots.select(
            F.col("host").alias("__dhost"),
            crawl_delay_expr(F.col("robots_txt")).alias("__delay"),
        )
        ranked = ranked.join(
            F.broadcast(delays), ranked.host == F.col("__dhost"), "left"
        )
        delay = F.coalesce(F.col("__delay"), delay)
    return ranked.select(
        "url",
        "host",
        "priority",
        "host_rank",
        ((F.col("host_rank") - 1) * delay).cast("long").alias("fetch_at_sec"),
    )


def host_components(hedges: DataFrame) -> DataFrame:
    """Weakly-connected components of the host graph — the site-family
    / mirror-cluster grouping (CC's host web graph ships exactly this
    as its component column): ``(host, component)`` where component is
    the lexicographically smallest host reachable through the edge
    list, direction ignored. The dedup min-root kernel rounds
    (dedup_components) with string ids: hosts cross the kernel as
    bytes and the kernel's sort is unsigned byte order, the order of
    Spark's string ``min`` and of DuckDB's default binary collation,
    so the recursive-CTE oracle agrees byte-for-byte. Same scale
    contract: a handful of Spark jobs per round, rows carry host names
    only, and only hosts that appear in an edge are labeled (isolated
    hosts are their own trivial component and never needed the
    shuffle)."""
    from webxtract.dedup import dedup_components

    comp = dedup_components(hedges, a_col="src_host", b_col="dst_host")
    return comp.select(F.col("id").alias("host"), "component")


SITEMAP_RE = r"(?mi)^Sitemap: (\S+)"


def sitemaps_expr(robots_txt: Column) -> Column:
    """All ``Sitemap:`` directive urls in a robots.txt, in file order.
    Unlike Allow/Disallow/Crawl-delay, Sitemap is GROUP-INDEPENDENT
    (sitemaps.org / RFC 9309 §2.3 treats it as applying to the whole
    file), so this scans the full text, not the UA-* section — the
    crawl tier's sitemap-discovery feed. Directive name matched
    case-insensitively over the CRLF-normalized body."""
    return F.regexp_extract_all(_robots_text(robots_txt), F.lit(SITEMAP_RE), 1)


def sitemap_entries_expr(xml: Column) -> Column:
    """Parsed ``<url>`` entries of a sitemap.xml (sitemaps.org
    protocol) as ``ARRAY<STRUCT<loc, lastmod>>`` in file order: loc is
    whitespace-trimmed, lastmod is NULL when the optional tag is
    absent. Regex-scoped per ``<url>`` block so a lastmod can never be
    attributed to a neighboring entry. Pure narrow expressions — the
    crawl tier parses millions of fetched sitemaps as one map pass."""
    blocks = F.regexp_extract_all(
        F.coalesce(xml, F.lit("")), F.lit(r"(?s)<url>(.*?)</url>"), 1
    )
    loc_re = r"(?s)<loc>\s*(.*?)\s*</loc>"
    lm_re = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"

    def entry(b: Column) -> Column:
        lm = F.regexp_extract(b, lm_re, 1)
        return F.struct(
            F.regexp_extract(b, loc_re, 1).alias("loc"),
            F.when(lm != "", lm).alias("lastmod"),
        )

    return F.transform(blocks, entry)


def sitemap_children_expr(xml: Column) -> Column:
    """Child-sitemap locs of a ``<sitemapindex>`` file in file order —
    empty array for a plain urlset, so one expression classifies and
    expands both sitemap kinds (index files recurse through the
    frontier like any other fetch)."""
    return F.transform(
        F.regexp_extract_all(
            F.coalesce(xml, F.lit("")),
            F.lit(r"(?s)<sitemap>(.*?)</sitemap>"),
            1,
        ),
        lambda b: F.regexp_extract(b, r"(?s)<loc>\s*(.*?)\s*</loc>", 1),
    )
