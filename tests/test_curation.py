"""Curation operators: PII redaction, benchmark decontamination,
near-dup connected components."""

from pyspark.sql import functions as F


def test_pii_redaction_exact(spark):
    from webxtract.curation import pii_counts_exprs, redact_pii_expr

    text = (
        "Write to jane.doe+x@corp.example.co.uk or call +1 (415) 555-0199. "
        "Card: 4111-1111-1111-1111, SIN 046 454 286, server 192.168.1.10."
    )
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        redact_pii_expr(F.col("text")).alias("red"),
        *[c.alias(n) for n, c in pii_counts_exprs(F.col("text")).items()],
    ).collect()[0]
    assert "<EMAIL>" in row["red"]
    assert "<PHONE>" in row["red"]
    assert "<CARD>" in row["red"]
    assert "<ID>" in row["red"]
    assert "<IP>" in row["red"]
    assert "jane.doe" not in row["red"]
    assert "4111" not in row["red"]
    assert "192.168" not in row["red"]
    assert row["n_email"] == 1
    assert row["n_phone"] >= 1
    assert row["n_card"] == 1
    assert row["n_ipv4"] == 1

    clean = spark.createDataFrame(
        [("just regular prose with the year 2026 and room 101",)], "text string"
    )
    crow = clean.select(redact_pii_expr(F.col("text")).alias("red")).collect()[0]
    assert crow["red"] == "just regular prose with the year 2026 and room 101"


def test_benchmark_overlap_flags_contaminated(spark):
    from webxtract.curation import benchmark_overlap

    bench_text = (
        "the held out benchmark question asks what is the capital of "
        "france and the answer is paris obviously"
    )
    contaminated = (
        "some scraped page containing the held out benchmark question "
        "asks what is the capital of france verbatim plus other words"
    )
    clean = "a completely unrelated page about gardening tips and tomato soil acidity"
    docs = spark.createDataFrame(
        [(1, contaminated), (2, clean)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {
        r["id"]: r["n_hits"]
        for r in benchmark_overlap(docs, bench, shingle_k=8, min_hits=3).collect()
    }
    assert 1 in got and got[1] >= 3
    assert 2 not in got


def test_url_canonicalization_cases(spark):
    from webxtract.curation import canonicalize_url_expr

    cases = [
        ("HTTPS://Example.COM:443/a/b?utm_source=tw&id=7#frag",
         "https://example.com/a/b?id=7"),
        ("http://News.Site.org:80/story?fbclid=xyz",
         "http://news.site.org/story"),
        ("https://host.net/p?id=3&utm_campaign=c&q=1",
         "https://host.net/p?id=3&q=1"),
        ("https://plain.example/x", "https://plain.example/x"),
        # non-default port survives; param order preserved
        ("https://h.io:8443/p?b=2&a=1", "https://h.io:8443/p?b=2&a=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"]
        for r in df.select(canonicalize_url_expr(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_gopher_flags_planted(spark):
    from webxtract.textops import gopher_flags_exprs

    good = " ".join(
        ["the quick brown fox jumps over and over with the lazy dog of note"] * 5
    )
    too_short = "the end"
    bullets = "\n".join(["- item one of the list to have and be with that"] * 10)
    df = spark.createDataFrame(
        [(1, good), (2, too_short), (3, bullets)], "doc_id long, text string"
    )
    flags = gopher_flags_exprs(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in flags.items()]
        ).collect()
    }
    assert rows[1]["gopher_keep"] is True
    assert rows[2]["ok_word_count"] is False and rows[2]["gopher_keep"] is False
    assert rows[3]["ok_bullets"] is False and rows[3]["gopher_keep"] is False


def test_url_canonicalization_idempotent(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) — canonical
    forms are fixed points, so re-processing already-canonical urls in
    an incremental run changes nothing."""
    from webxtract.curation import canonicalize_url_expr

    urls = [
        "HTTPS://Example.COM:443/a/b?utm_source=tw&id=7#frag",
        "http://News.Site.org:80/story?fbclid=xyz&x=1&utm_medium=m",
        "https://h.io:8443/p?b=2&a=1",
        "https://plain.example/x",
        "ftp://Weird.Host/file", "not-a-url at all",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonicalize_url_expr(F.col("url")).alias("c1"))
    twice = once.select(
        "c1", canonicalize_url_expr(F.col("c1")).alias("c2")
    ).collect()
    for r in twice:
        assert r["c1"] == r["c2"], r


def test_deterministic_sample_stability_and_rates(spark):
    from webxtract.curation import deterministic_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "de": 0.1}
    s1 = {r["doc_id"] for r in deterministic_sample(df, rates).collect()}
    # stable under repartitioning (rand(seed) would not be)
    s2 = {
        r["doc_id"]
        for r in deterministic_sample(df.repartition(13), rates).collect()
    }
    assert s1 == s2
    en = sum(1 for i in s1 if i % 2 == 0) / 2000
    de = sum(1 for i in s1 if i % 2 == 1) / 2000
    assert abs(en - 0.5) < 0.05 and abs(de - 0.1) < 0.03
    # subset-consistency: sampling a subset keeps exactly the members
    # the full-corpus pass kept (incremental appends stay consistent)
    sub = {
        r["doc_id"]
        for r in deterministic_sample(
            df.filter(F.col("doc_id") < 1000), rates
        ).collect()
    }
    assert sub == {i for i in s1 if i < 1000}


def test_remove_boilerplate_lines(spark):
    """A line shared by more than max_line_df docs is stripped from all
    of them; unique lines and line order survive; an all-boilerplate
    doc keeps a row with empty text."""
    from webxtract.curation import remove_boilerplate_lines

    banner = "ACCEPT COOKIES"
    footer = "(c) corp"
    rows = [
        (i, f"{banner}\nunique body {i}\nmore body {i}\n{footer}")
        for i in range(20)
    ]
    rows.append((99, f"{banner}\n{footer}"))  # all-boilerplate doc
    rows.append((100, None))  # NULL text keeps its row (as empty)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_boilerplate_lines(df, max_line_df=10).collect()
    }
    assert got[3] == ("unique body 3\nmore body 3", 2)
    assert got[99] == ("", 2)
    assert got[100] == ("", 0)
    assert len(got) == 22


def test_repetition_signals_planted(spark):
    """A doc that is one phrase repeated scores high on every signal; a
    varied doc scores low; a doc with duplicated lines shows line-dup
    fractions."""
    from webxtract.curation import repetition_signals

    repeated = " ".join(["buy now limited offer"] * 10)
    varied = "each word appears exactly once across this entire sentence here"
    dup_lines = "alpha beta\ngamma delta\nalpha beta\nepsilon zeta"
    df = spark.createDataFrame(
        [(1, repeated), (2, varied), (3, dup_lines)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    # "buy now limited offer buy" style 2-grams repeat ~10x
    assert got[1]["top2gram_char_frac"] > 0.3
    assert got[2]["top2gram_char_frac"] < 0.3
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["dup_line_frac"] == 0.25  # 1 of 4 lines is a dup occurrence
    assert got[3]["dup_line_char_frac"] > 0.0


def test_pack_sequences_budget_invariants(spark):
    """Every sequence except possibly a shard's last starts under
    budget; each doc lands in exactly one sequence; totals reconcile."""
    from webxtract.curation import pack_sequences

    rows = [(i, 100 + (i * 37) % 900) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pack_sequences(df, token_budget=2048, n_shards=4).collect()
    assert sum(r["n_docs"] for r in packed) == 500
    assert sum(r["total_tokens"] for r in packed) == sum(t for _, t in rows)
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["seq_no"])
        # seq_nos are dense from 0 (a doc can straddle, never skip a bin
        # entirely only when a single doc exceeds multiple budgets)
        for r in shard_rows:
            # a sequence's starting offset is < budget past its bin start
            assert r["total_tokens"] > 0
    # deterministic across repartitionings
    again = pack_sequences(df.repartition(7), token_budget=2048, n_shards=4).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, again))


def test_dedup_components_transitive_chain(spark):
    from webxtract.dedup import dedup_components

    # chain 1-2-3-4 (transitive, needs multiple propagation rounds) and
    # an isolated pair 10-11; singleton 99 never appears
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {r["id"]: r["component"] for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _union_find_components(pairs):
    """Reference: {id: minimum id of its component} by a plain
    union-find over non-NULL pairs."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _component_rounds(out) -> int:
    """Rounds dedup_components ran: each round's labels are one
    checkpointed scan in the output plan."""
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("LogicalRDD")


def test_dedup_components_edge_case_rows(spark):
    """Edge-case rows of the output contract: a
    self-pair labels itself; a NULL end connects nothing and yields one
    (NULL, NULL) row; pair orientation and repeats do not matter; no
    pairs give no rows with the same schema."""
    from webxtract.dedup import dedup_components

    def run(rows):
        out = dedup_components(spark.createDataFrame(rows, "a long, b long"))
        assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
        return sorted(map(tuple, out.collect()), key=str)

    assert run([(5, 5)]) == [(5, 5)]
    assert run([(7, None)]) == [(7, 7), (None, None)]
    assert run([(None, None)]) == [(None, None)]
    assert run([(7, None), (None, 3), (3, 4)]) == [
        (3, 3), (4, 3), (7, 7), (None, None)
    ]
    assert run([(9, 8)]) == [(8, 8), (9, 8)]
    assert run([(8, 9), (9, 8), (8, 9)]) == [(8, 8), (9, 8)]
    assert run([]) == []


def test_dedup_components_random_graphs_many_partitions(many_partitions):
    """Across 16 uncoalesced partitions, random sparse graphs with
    64-bit ids (above float64's exact range) match a union-find."""
    import random

    from webxtract.dedup import dedup_components

    for seed in range(2):
        rng = random.Random(seed)
        ids = rng.sample(range(2**62), 300)
        pairs = [tuple(rng.sample(ids, 2)) for _ in range(280)]
        pairs += [(ids[0], ids[0])]
        df = many_partitions.createDataFrame(pairs, "a long, b long")
        got = {r.id: r.component for r in dedup_components(df).collect()}
        assert got == _union_find_components(pairs)


def test_dedup_components_chain_and_star_converge(many_partitions):
    """Pinned round counts across 16 uncoalesced partitions: a
    10^4-vertex chain with shuffled ids (each round contracts only what
    one partition sees) and a 10^5-edge star (every edge shares its lo:
    one partition, one round)."""
    import random

    from webxtract.dedup import dedup_components

    ids = list(range(10_000))
    random.Random(7).shuffle(ids)
    chain = list(zip(ids, ids[1:]))
    out = dedup_components(
        many_partitions.createDataFrame(chain, "a long, b long")
    )
    assert _component_rounds(out) <= 26
    got = out.groupBy("component").count().collect()
    assert [tuple(r) for r in got] == [(0, 10_000)]

    star = [(0, i) for i in range(1, 100_001)]
    out = dedup_components(many_partitions.createDataFrame(star, "a long, b long"))
    assert _component_rounds(out) == 1
    got = out.groupBy("component").count().collect()
    assert [tuple(r) for r in got] == [(0, 100_001)]


def test_dedup_components_string_ids_many_partitions(many_partitions):
    """String ids keep their labels across 16 partitions: the minimum is
    the code-point (UTF-8 byte) minimum, non-ASCII included, and bytes
    that are not valid UTF-8 come back unchanged."""
    import random

    from webxtract.dedup import dedup_components

    rng = random.Random(3)
    alphabet = ["a", "z", "é", "ß", "Ω", "中", "😀", "A", "-"]
    ids = sorted({"".join(rng.choices(alphabet, k=3)) for _ in range(400)})
    pairs = [tuple(rng.sample(ids, 2)) for _ in range(250)]
    df = many_partitions.createDataFrame(pairs, "a string, b string")
    got = {r.id: r.component for r in dedup_components(df).collect()}
    assert got == _union_find_components(pairs)

    raw = many_partitions.createDataFrame(
        [(b"caf\xe9", b"cafe"), (b"cafe", b"\xff")], "a binary, b binary"
    ).select(F.col("a").cast("string").alias("a"), F.col("b").cast("string").alias("b"))
    out = dedup_components(raw).select(
        F.col("id").cast("binary").alias("id"),
        F.col("component").cast("binary").alias("component"),
    )
    got = {bytes(r.id): bytes(r.component) for r in out.collect()}
    assert got == {b"cafe": b"cafe", b"caf\xe9": b"cafe", b"\xff": b"cafe"}


def test_normalize_text_composition_and_controls(spark):
    """NFC composes decomposed accents (e + U+0301 -> é), maps
    singleton codepoints (ANGSTROM SIGN U+212B -> Å), strips
    C0/DEL but keeps tab and newline, and preserves NULL text."""
    from webxtract.curation import normalize_text

    rows = [
        (1, "Cafe\u0301"),
        (2, "A\u212bB"),
        (3, "a\x01b\x7fc\td\ne"),
        (4, "plain"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert got[1]["text_norm"] == "Café" and got[1]["changed"]
    assert got[1]["n_chars_before"] == 5 and got[1]["n_chars_after"] == 4
    assert got[2]["text_norm"] == "AÅB" and got[2]["changed"]
    assert got[3]["text_norm"] == "abc\td\ne" and got[3]["changed"]
    assert got[4]["text_norm"] == "plain" and not got[4]["changed"]
    assert got[5]["text_norm"] is None and not got[5]["changed"]


def test_host_stats_rollup(spark):
    from webxtract.curation import host_stats

    rows = [
        (1, "aaaa", "en", "https://A.example.com/x"),
        (2, "bb", "fr", "http://a.EXAMPLE.com:8080/y?q=1"),
        (3, "cccccc", "en", "https://other.net/"),
        (4, None, "en", "not a url"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )
    got = {r["host"]: r for r in host_stats(df).collect()}
    a = got["a.example.com"]
    assert a["n_docs"] == 2 and a["total_chars"] == 6
    assert a["avg_chars"] == 3.0 and a["n_langs"] == 2
    assert got["other.net"]["n_docs"] == 1
    assert got[""]["n_docs"] == 1 and got[""]["total_chars"] == 0


def test_filter_blocked_domains_case_insensitive(spark):
    from webxtract.curation import filter_blocked_domains

    docs = spark.createDataFrame(
        [
            (1, "https://Spam.Example/x"),
            (2, "https://keep.example/y"),
            (3, "http://SPAM.EXAMPLE:80/z"),
            (4, "garbage"),
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("spam.EXAMPLE",)], "host string")
    out = filter_blocked_domains(docs, blocked)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 4]
    assert out.columns == ["doc_id", "url"]


def test_dedup_paragraphs_keep_first(spark):
    """Keep-first global paragraph dedup: a paragraph shared across
    docs survives only at its lowest (doc_id, pos); a within-doc repeat
    keeps only the first copy; whitespace-only blocks never dedup; NULL
    text keeps its row as empty."""
    from webxtract.curation import dedup_paragraphs

    promo = "Subscribe now"
    rows = [
        (1, f"intro one\n\n{promo}\n\nbody one"),
        (2, f"{promo}\n\nbody two\n\n{promo}"),  # cross-doc + within-doc dup
        (3, "body three\n\n   \n\nbody three"),  # ws-only block + self-dup
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed_paras"])
        for r in dedup_paragraphs(df).collect()
    }
    assert got[1] == (f"intro one\n\n{promo}\n\nbody one", 0)
    assert got[2] == ("body two", 2)  # both promo copies removed
    # ws-only block survives (never dedups); second "body three" removed
    assert got[3] == ("body three\n\n   ", 1)
    assert got[4] == ("", 0)
    assert len(got) == 4


def test_dedup_paragraphs_blank_run_normalization(spark):
    """\\n{2,} runs split as ONE separator (no empty paragraphs), and
    the rebuild renormalizes them to a single blank line."""
    from webxtract.curation import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "a\n\n\n\nb\n\n\nc")], "doc_id long, text string"
    )
    row = dedup_paragraphs(df).collect()[0]
    assert row["text"] == "a\n\nb\n\nc"
    assert row["n_removed_paras"] == 0


def test_top_tokens_order_and_filtering(spark):
    """(count desc, token asc) total order; empty/NULL docs contribute
    nothing; k caps the head."""
    from webxtract.curation import top_tokens

    df = spark.createDataFrame(
        [(1, "b a b c a b"), (2, "  "), (3, None), (4, "c a")],
        "doc_id long, text string",
    )
    got = [(r["token"], r["n"]) for r in top_tokens(df, k=2).collect()]
    # a and b tie at 3 -> token asc breaks the tie
    assert got == [("a", 3), ("b", 3)]
    full = [(r["token"], r["n"]) for r in top_tokens(df, k=10).collect()]
    assert full == [("a", 3), ("b", 3), ("c", 2)]


def test_dedup_incremental_anti_join_and_keep_first(spark):
    """Docs whose text was fingerprinted by a prior run never reappear;
    within the increment, duplicate texts collapse keep-first with a
    dup count; NULL text (NULL md5) is never matched away by the
    anti-join."""
    from webxtract.dedup import dedup_incremental

    inc = spark.createDataFrame(
        [(1, "old news"), (2, "fresh take"), (3, "fresh take"),
         (4, "unique"), (5, None)],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame([("old news",), ("gone",)], "text string") \
        .selectExpr("md5(text) as text_hash")
    got = {
        r["text_hash"]: (r["keep_id"], r["dup_count"])
        for r in dedup_incremental(inc, seen).collect()
    }
    vals = sorted(got.values())
    assert vals == [(2, 2), (4, 1), (5, 1)]  # old news gone; keep-first


def test_temperature_mix_flattens_toward_rare_sources(spark):
    """T=0.5 upweights rare sources relative to natural proportions;
    rates cap at 1.0; the keep decision is key-deterministic (same
    result under a different partitioning)."""
    from webxtract.curation import temperature_mix

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_mix(df, n_target=500, temperature=0.5).collect()
    by_src = {}
    for r in kept:
        by_src[r["lang"]] = by_src.get(r["lang"], 0) + 1
    # natural mix would keep small at 10%; sqrt-weights push it to
    # sqrt(100)/(sqrt(900)+sqrt(100)) = 25% of the target
    assert by_src["small"] / len(kept) > 0.15
    # determinism across partitionings
    kept2 = temperature_mix(
        df.repartition(7), n_target=500, temperature=0.5
    ).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(
        r["doc_id"] for r in kept2
    )


def test_temperature_mix_rate_caps_at_one(spark):
    """A source whose quota exceeds its size keeps every row (rate
    capped at 1.0), never oversamples."""
    from webxtract.curation import temperature_mix

    rows = [(i, "only") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_mix(df, n_target=500, temperature=1.0).collect()
    assert len(kept) == 50


def test_chunk_tokens_windows_overlap_and_tail(spark):
    """chunk_size=4, overlap=1 -> stride 3: starts 1,4,7,...; chunks
    share one token; the tail chunk is short; empty/NULL docs emit no
    chunks."""
    from webxtract.curation import chunk_tokens

    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8"), (2, "  "), (3, None), (4, "solo")],
        "doc_id long, text string",
    )
    got = chunk_tokens(df, chunk_size=4, overlap=1).orderBy(
        "doc_id", "chunk_no"
    ).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_no"], r["n_tokens"], r["chunk_text"])
        )
    assert by_doc[1] == [
        (1, 4, "t1 t2 t3 t4"),
        (2, 4, "t4 t5 t6 t7"),
        (3, 2, "t7 t8"),
    ]
    assert 2 not in by_doc and 3 not in by_doc
    assert by_doc[4] == [(1, 1, "solo")]


def test_chunk_tokens_rejects_bad_overlap(spark):
    from webxtract.curation import chunk_tokens
    import pytest

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_tokens(df, chunk_size=4, overlap=4)


def test_extraction_eval_hand_computed(spark):
    """Known multiset case: gold='a b b c', cand='a b d' ->
    inter=min(1,1)[a]+min(1,2)[b]=2, p=2/3, r=2/4, f1=2pr/(p+r)=4/7.
    Plus: perfect match, disjoint (f1=0.0), empty cand (NULLs), NULL
    gold (n_gold=0 -> rec/f1 NULL)."""
    from pyspark.sql import functions as F

    from webxtract.textops import extraction_eval

    rows = [
        (1, "a b b c", "a b d"),
        (2, "Same, text!", "same TEXT"),
        (3, "aaa bbb", "ccc ddd"),
        (4, "gold here", ""),
        (5, None, "cand only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, gold string, cand string")
    out = {
        r["doc_id"]: r.asDict()
        for r in extraction_eval(
            df, F.col("gold"), F.col("cand")
        ).collect()
    }
    assert out[1]["inter_tokens"] == 2
    assert out[1]["prec"] == round(2 / 3, 6)
    assert out[1]["rec"] == 0.5
    assert out[1]["f1"] == round(4 / 7, 6)
    assert out[2]["f1"] == 1.0 and out[2]["prec"] == 1.0 and out[2]["rec"] == 1.0
    assert out[3]["inter_tokens"] == 0 and out[3]["f1"] == 0.0
    assert out[4]["n_cand"] == 0 and out[4]["prec"] is None
    assert out[4]["f1"] is None and out[4]["rec"] == 0.0
    assert out[5]["n_gold"] == 0 and out[5]["rec"] is None and out[5]["f1"] is None


def test_c4_clean_hand_computed(spark):
    """Each C4 rule on a hand-built page: unpunctuated line dropped,
    <5-word line dropped, javascript line dropped, kept lines joined in
    order; lorem-ipsum / curly-brace / <3-kept-lines each reject the
    document; NULL text -> 1 empty line, nothing kept, rejected."""
    from pyspark.sql import functions as F

    from webxtract.curation import c4_clean_exprs

    good = (
        "no terminal punctuation here at all\n"
        "This first sentence has plenty of words to keep.\n"
        "Too short.\n"
        "Please enable javascript to view this content now.\n"
        "A second keeper sentence with enough words!\n"
        'A third keeper line, quoted ending counts too."'
    )
    rows = [
        (1, good),
        (2, good + "\nlorem IPSUM dolor"),
        (3, good + "\nvar x = {1: 2}"),
        (4, "Only one keeper sentence with enough words here.\nshort"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    e = c4_clean_exprs(F.col("text"))
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in e.items()]
        ).collect()
    }
    assert out[1]["n_lines"] == 6 and out[1]["n_lines_kept"] == 3
    assert out[1]["cleaned_text"] == (
        "This first sentence has plenty of words to keep.\n"
        "A second keeper sentence with enough words!\n"
        'A third keeper line, quoted ending counts too."'
    )
    assert out[1]["c4_keep"] is True
    assert out[2]["has_lorem_ipsum"] is True and out[2]["c4_keep"] is False
    assert out[3]["has_curly_brace"] is True and out[3]["c4_keep"] is False
    assert out[4]["n_lines_kept"] == 1 and out[4]["c4_keep"] is False
    assert (
        out[5]["n_lines"] == 1
        and out[5]["n_lines_kept"] == 0
        and out[5]["cleaned_text"] == ""
        and out[5]["c4_keep"] is False
    )


def test_fix_mojibake_hand_computed(spark):
    """The repair chain restores a genuinely double-decoded string:
    corrupt = intended.encode('utf-8').decode('cp1252') for a sentence
    covering quotes/dashes/ellipsis/accents/symbols; NULL repairs to
    ''; clean ASCII passes through unflagged."""
    from pyspark.sql import functions as F

    from webxtract.curation import fix_mojibake_exprs

    # no closing double quote: its UTF-8 encoding contains 0x9d, which
    # cp1252 cannot decode — the exact class MOJIBAKE_PAIRS excludes.
    intended = (
        "Café — it’s “great… "
        "25°C «ñoño» à lève"
    )
    corrupt = intended.encode("utf-8").decode("cp1252")
    assert corrupt != intended
    rows = [(1, corrupt), (2, "plain ascii stays"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    e = fix_mojibake_exprs(F.col("text"))
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in e.items()]
        ).collect()
    }
    assert out[1]["fixed_text"] == intended
    assert out[1]["had_mojibake"] is True
    assert out[1]["chars_saved"] == len(corrupt) - len(intended)
    assert out[2]["fixed_text"] == "plain ascii stays"
    assert out[2]["had_mojibake"] is False and out[2]["chars_saved"] == 0
    assert out[3]["fixed_text"] == "" and out[3]["had_mojibake"] is False


def test_build_postings_skewed_hot_term(spark):
    """Two-phase (salted) top-k equals the brute-force single-window
    answer on a corpus with a planted hot term in every document, and
    df/total_tf come from uncapped counts (df = all docs even when only
    top-2 postings are kept)."""
    from pyspark.sql import functions as F

    from webxtract.textops import build_postings

    # doc i: 'hot' appears (i % 5 + 1) times, 'rare-i' once for even i
    rows = [
        (i, " ".join(["hot"] * (i % 5 + 1))
            + (f" rare{i}" if i % 2 == 0 else ""))
        for i in range(1, 41)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = build_postings(df, max_postings=2, min_df=1, n_salts=4)
    got = {
        (r.term, r.rank): (r.df, r.total_tf, r.doc_id, r.tf)
        for r in out.collect()
    }
    # brute force for 'hot': tf=5 for doc_id%5==4 -> docs 4, 9 lead
    assert got[("hot", 1)] == (40, sum(i % 5 + 1 for i in range(1, 41)), 4, 5)
    assert got[("hot", 2)][2:] == (9, 5)
    assert got[("hot", 2)][0] == 40  # df uncapped by the top-2 keep
    # a rare term: single posting, rank 1
    assert got[("rare2", 1)] == (1, 1, 2, 1)
    assert ("hot", 3) not in got


def test_dedup_keep_best_hand_computed(spark):
    """Keep-best semantics on a hand-built pair graph: the
    highest-score member wins its cluster (not the first/lowest id),
    score ties break to the lowest id, singletons keep themselves, and
    every dropped member's kept_id points at its representative."""
    from webxtract.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, "aa"), (2, "aaaa"), (3, "aaa"),   # cluster {1,2,3}: 2 wins
            (4, "bb"), (5, "bb"),                  # cluster {4,5}: tie -> 4
            (9, "solo"),                           # singleton
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long"
    )
    got = {r.id: r for r in dedup_keep_best(docs, pairs).collect()}
    assert [got[i].keep for i in (1, 2, 3)] == [False, True, False]
    assert all(got[i].kept_id == 2 and got[i].component == 1 for i in (1, 2, 3))
    assert got[4].keep is True and got[5].keep is False
    assert got[5].kept_id == 4
    assert got[9].keep is True and got[9].kept_id == 9 and got[9].component == 9


def test_dedup_keep_best_job_budget(spark):
    """One dedup_keep_best call on a curate-sized input (~420 docs, 144
    pairs over 180 docs in small clusters), its result consumed, runs
    at most 15 Spark jobs: AQE coalesces the pair list into one
    partition, so one component round finishes."""
    import random

    from webxtract.dedup import dedup_keep_best

    rng = random.Random(11)
    ids = rng.sample(range(10**6), 420)
    docs = spark.createDataFrame(
        [(i, "x" * rng.randrange(1, 50)) for i in ids], "doc_id long, text string"
    )
    pairs = []
    members = ids[:180]
    for c in range(36):  # 36 clusters of 5 docs, 4 pairs each
        group = members[5 * c : 5 * c + 5]
        pairs += [(group[k], rng.choice(group[:k])) for k in range(1, 5)]
    pairs = spark.createDataFrame(pairs, "a long, b long")
    sc = spark.sparkContext
    sc.setJobGroup("keep_best_budget", "dedup_keep_best job budget")
    try:
        rows = dedup_keep_best(docs, pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("keep_best_budget"))
    assert len(rows) == 420 and sum(r.keep for r in rows) == 420 - 144
    assert n_jobs <= 15


def test_tag_topics_hand_computed(spark):
    """Known keyword counts per topic; ties go to the earlier taxonomy
    entry; no hits and NULL text tag 'other'."""
    from webxtract.curation import tag_topics_frame

    rows = [
        (1, "The startup software uses an algorithm. Great software."),
        # one tech keyword and one sports keyword -> tie; 'technology'
        # precedes 'sports' in TOPIC_TAXONOMY
        (2, "the software championship"),
        (3, "nothing topical here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in tag_topics_frame(df).collect()}
    # keyword hits counted per keyword (startup, software, algorithm),
    # not per occurrence (software twice still counts once)
    assert out[1]["n_technology"] == 3 and out[1]["topic"] == "technology"
    assert out[2]["n_technology"] == 1 and out[2]["n_sports"] == 1
    assert out[2]["topic"] == "technology"
    assert out[3]["topic"] == "other" and out[4]["topic"] == "other"


def test_value_percentiles_hand_computed(spark):
    """Histogram-based percent_rank equals the SQL definition on a
    hand frame with ties; NULL values drop; a 1-row corpus ranks 0."""
    from webxtract.curation import value_percentiles

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 30), (5, None)],
        "doc_id long, v int",
    )
    got = {
        r.doc_id: r.pct_rank
        for r in value_percentiles(df, F.col("v")).collect()
    }
    assert got == {1: 0.0, 2: round(1 / 3, 9), 3: round(1 / 3, 9), 4: 1.0}
    one = spark.createDataFrame([(1, 5)], "doc_id long, v int")
    assert value_percentiles(one, F.col("v")).collect()[0].pct_rank == 0.0


def test_host_cap_sample_hand_computed(spark):
    """Cap 2 per host, order by score DESC then id: the hot host keeps
    its two best rows; a host under the cap keeps everything; ranks
    are 1-based per host. n_salts=1 and 8 must agree (the salted
    phase-1 prune is a superset of the global top-cap)."""
    from webxtract.curation import host_cap_sample

    rows = [
        (1, "a.com", 10), (2, "a.com", 30), (3, "a.com", 20),
        (4, "a.com", 30),  # ties with 2 -> id 2 wins rank 1
        (5, "b.org", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, score int")
    for salts in (1, 8):
        got = {
            r.doc_id: r.host_rank
            for r in host_cap_sample(
                df, cap=2, order_col="score", n_salts=salts
            ).collect()
        }
        assert got == {2: 1, 4: 2, 5: 1}


def test_host_cap_sample_hot_host_bounded(spark):
    """A 400-row host with cap 3, n_salts 4: phase 1 leaves at most
    n_salts*cap = 12 candidate rows per host for the final window, and
    the global top-3 survives exactly."""
    from webxtract.curation import host_cap_sample

    rows = [(i, "hot.example", i % 100) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, host string, score int")
    got = host_cap_sample(df, cap=3, order_col="score", n_salts=4).collect()
    # best score 99 occurs at ids 99, 199, 299, 399 -> lowest 3 ids win
    assert sorted((r.doc_id, r.host_rank) for r in got) == [
        (99, 1), (199, 2), (299, 3)
    ]


def test_dsir_score_hand_computed(spark):
    """Score of 'a b c' = lr[bucket('a b')] + lr[bucket('b c')], with
    buckets recomputed in Python via the same md5-60 hash; 1-word and
    NULL docs score 0.0 with n_grams 0."""
    import hashlib

    from webxtract.curation import dsir_scores_frame

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 8

    lr = [round(0.1 * (i + 1), 6) for i in range(8)]
    exp = round(lr[bucket("a b")] + lr[bucket("b c")], 6)
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, None)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.dsir_logweight)
        for r in dsir_scores_frame(df, lr, n_buckets=8).collect()
    }
    assert got[1] == (2, exp)
    assert got[2] == (0, 0.0) and got[3] == (0, 0.0)


def test_bucket_counts_totals(spark):
    """Bucket histogram totals equal the corpus bigram count and every
    bucket id is within range."""
    from webxtract.curation import bucket_counts

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, None)], "doc_id long, text string"
    )
    rows = bucket_counts(df, n_buckets=8).collect()
    assert sum(r.n for r in rows) == 4  # 3 bigrams + 1 bigram
    assert all(0 <= r.bucket < 8 for r in rows)


def test_split_assign_hand_computed(spark):
    """Split matches the md5-60 threshold rule recomputed in Python;
    identical hosts always co-assign; weights are renormalized and a
    2-way 50/50 split cuts at 500000."""
    import hashlib

    from webxtract.curation import split_assign_expr

    def bucket(h: str) -> int:
        return int(hashlib.md5(h.encode()).hexdigest()[:15], 16) % 1000000

    hosts = ["a.com", "b.org", "c.net", "hot.example", ""]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r.host: r.split
        for r in df.select(
            "host", split_assign_expr(F.col("host")).alias("split")
        ).collect()
    }
    for h in hosts:
        b = bucket(h)
        exp = "train" if b < 980000 else ("valid" if b < 990000 else "test")
        assert got[h] == exp, (h, b, got[h], exp)

    two = df.select(
        "host",
        split_assign_expr(
            F.col("host"), splits=(("x", 1.0), ("y", 1.0))
        ).alias("split"),
    ).collect()
    for r in two:
        assert r.split == ("x" if bucket(r.host) < 500000 else "y")


def test_bigram_perplexity_hand_computed(spark):
    """2-doc corpus with closed-form stats: c(a)=c(b)=3, T=6, bigram
    counts {'a b':3, 'b a':1}; doc ppls recomputed in Python with the
    same interpolation. 1-token and NULL docs emit no row."""
    import math

    from webxtract.curation import bigram_perplexity

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r.id: (r.n_bigrams, r.ppl)
        for r in bigram_perplexity(df).collect()
    }
    # unigram stats include doc 3's 'solo': c(a)=c(b)=3, c(solo)=1, T=7
    p_ab = 0.7 * (3 / 3) + (1.0 - 0.7) * (3 / 7)
    p_ba = 0.7 * (1 / 3) + (1.0 - 0.7) * (3 / 7)
    ppl1 = round(
        math.exp(-(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3), 6
    )
    ppl2 = round(math.exp(-math.log(p_ab)), 6)
    # doc 3 has 1 token ('solo' joins the unigram stats but yields no
    # bigram) — no output row; doc 4 NULL — no row
    assert set(got) == {1, 2}
    assert got[1] == (3, ppl1)
    assert got[2] == (1, ppl2)


def test_stratified_keep_per_stratum_ties(spark):
    """Keep-top-50% per lang: strata are thresholded independently,
    and a tied value class at the boundary is kept TOGETHER (the
    documented over-admission); NULL value/strata rows drop."""
    from webxtract.curation import stratified_keep

    rows = [
        (1, "en", 10), (2, "en", 20), (3, "en", 30), (4, "en", 40),
        # de: values 5,5,9 -> pct_ranks 0,0,1; 1-0.5 boundary keeps 9
        # only; the tied 5s rank 0.0 < 0.5 and drop together
        (5, "de", 5), (6, "de", 5), (7, "de", 9),
        (8, None, 99), (9, "fr", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, v long")
    got = sorted(
        r["doc_id"]
        for r in stratified_keep(df, F.col("v"), 0.5, strata_col="lang").collect()
    )
    # en pct_ranks: 10->0, 20->1/3, 30->2/3, 40->1; >= 0.5 keeps 30,40
    assert got == [3, 4, 7]


def test_stratified_keep_cume_keeps_tied_and_tiny_strata(spark):
    """mode="cume": the boundary tied class is kept TOGETHER
    (over-admission), a uniform stratum keeps everything, and a
    singleton stratum keeps its row — the degenerate cases the
    percent_rank rule wipes (ADVICE round 4)."""
    from webxtract.curation import stratified_keep

    rows = [
        (1, "en", 10), (2, "en", 20), (3, "en", 30), (4, "en", 40),
        # de cume_dists: 5->2/3, 5->2/3, 9->1; >= 0.5 keeps ALL three
        # (the tied 5s straddle the cutoff and survive together)
        (5, "de", 5), (6, "de", 5), (7, "de", 9),
        # uniform stratum: every row cume_dist 1.0 -> all kept
        (10, "fr", 7), (11, "fr", 7),
        # singleton stratum: cume_dist 1.0 -> kept
        (12, "zz", 1),
        (8, None, 99), (9, "it", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, v long")
    out = stratified_keep(
        df, F.col("v"), 0.5, strata_col="lang", mode="cume"
    ).collect()
    got = sorted(r["doc_id"] for r in out)
    # en cume_dists: 10->.25, 20->.5, 30->.75, 40->1; >= 0.5 keeps 2,3,4
    assert got == [2, 3, 4, 5, 6, 7, 10, 11, 12]
    assert out[0].__fields__ == ["doc_id", "lang", "value", "cume_dist"]


def test_classifier_score_matches_manual_sigmoid(spark):
    """The hashed linear classifier reproduces a hand-computed
    logit/sigmoid on a tiny fixture, scores stay in (0,1), and the
    keep flag is exactly (rounded score >= threshold)."""
    import hashlib
    import math

    from webxtract.curation import classifier_scores_frame, classifier_weights

    w = classifier_weights(64)

    def manual(text: str) -> tuple[int, float]:
        toks = text.strip().split()
        feats = toks + [
            f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)
        ]
        total = 0.0
        for f_ in feats:
            h = int(hashlib.md5(f_.encode()).hexdigest()[:15], 16)
            total += w[h % 64]
        logit = -0.1 + total / len(feats)
        return len(feats), round(1.0 / (1.0 + math.exp(-logit)), 6)

    rows = [(1, "the quick brown fox"), (2, "a b a b a b"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["clf_score"], r["clf_keep"])
        for r in classifier_scores_frame(df, w).collect()
    }
    for doc_id, text in rows:
        n, s = manual(text)
        assert got[doc_id][0] == n
        assert got[doc_id][1] == s
        assert 0.0 < got[doc_id][1] < 1.0
        assert got[doc_id][2] == (s >= 0.5)


def test_classifier_score_empty_and_null_text_agree(spark):
    """NULL and empty text take the same degenerate single-feature
    path (the '' token) — same score, no crash, no NULL verdict."""
    from webxtract.curation import classifier_scores_frame, classifier_weights

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    rows = classifier_scores_frame(df, classifier_weights(64)).collect()
    scores = {r["doc_id"]: (r["n_feats"], r["clf_score"]) for r in rows}
    assert scores[1] == scores[2] == scores[3]
    assert all(r["clf_keep"] is not None for r in rows)


def test_shard_assign_manifest_invariants(spark):
    """Within every shard: pos is contiguous from 1, tok_offset is the
    exclusive prefix sum of n_tokens, and the assignment is identical
    under a different input partitioning (determinism)."""
    from webxtract.curation import shard_assign

    rows = [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shard_assign(df, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(out) == 100
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r["pos"])
        assert [m["pos"] for m in members] == list(range(1, len(members) + 1))
        run = 0
        for m in members:
            assert m["tok_offset"] == run
            run += m["n_tokens"]
    out2 = shard_assign(df.repartition(7), n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
