"""Substring-level (content-defined chunk) dedup: position
independence, keep-first rewrite semantics, short-chunk floor, ANSI
neutrality.

The operator is the Spark-shaped analog of suffix-array training-data
dedup (Lee et al. 2022): content-defined boundaries make a passage
duplicated at DIFFERENT offsets produce byte-identical interior
chunks, so repeated-passage detection is a hash groupBy, not a pair
join.
"""

import pytest

from pyspark.sql import functions as F

from webxtract import dedup

SHARED = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "intro one two three " + SHARED + " outro A"),
        (2, "different preamble here " + SHARED + " different ending B"),
        (3, "no duplication at all just unique words qq ww ee rr tt yy"),
        (4, SHARED),  # the whole doc is the shared passage
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_position_independent_chunking(spark, docs):
    """The shared passage sits at different token offsets in docs 1, 2
    and 4, yet its interior chunks hash identically — every duplicated
    chunk reported spans all three docs."""
    dups = dedup.duplicate_chunks(docs, boundary_mod=4, min_dup_tokens=3)
    rows = dups.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_docs == 3 and r.n_occurrences == 3


def test_keep_first_rewrite(spark, docs):
    out = {
        r.id: r
        for r in dedup.dedup_chunks(
            docs, boundary_mod=4, min_dup_tokens=3
        ).collect()
    }
    # first occurrence (doc 1) keeps its full text verbatim
    assert out[1].clean_text == "intro one two three " + SHARED + " outro A"
    assert out[1].n_dropped == 0
    # later copies lose exactly the duplicated interior chunks
    assert out[2].n_dropped > 0
    assert SHARED not in out[2].clean_text
    assert out[2].clean_text.startswith("different preamble here")
    assert out[2].clean_text.endswith("different ending B")
    assert out[4].n_dropped > 0
    # doc with no duplication is untouched
    assert out[3].n_dropped == 0
    assert out[3].clean_text == "no duplication at all just unique words qq ww ee rr tt yy"


def test_short_chunk_floor(spark):
    """Chunks under min_dup_tokens are never dropped even when
    repeated: trivial fragments survive."""
    rows = [(1, "yes no maybe"), (2, "yes no maybe")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.id: r
        for r in dedup.dedup_chunks(df, boundary_mod=2, min_dup_tokens=50).collect()
    }
    assert out[1].clean_text == out[2].clean_text == "yes no maybe"
    assert out[1].n_dropped == out[2].n_dropped == 0


def test_rewrite_token_conservation(spark, docs):
    """kept tokens + dropped-chunk tokens == original tokens, per doc."""
    orig = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n")
        ).collect()
    }
    out = dedup.dedup_chunks(docs, boundary_mod=4, min_dup_tokens=3)
    kept = {
        r.id: (len(r.clean_text.split()) if r.clean_text else 0, r.n_chunks, r.n_dropped)
        for r in out.collect()
    }
    chunk_toks = {
        r.doc_id: [n_tok for _, n_tok, _ in dedup.chunk_spans(r.text, 4)]
        for r in docs.collect()
    }
    for d, n in orig.items():
        assert sum(chunk_toks[d]) == n  # chunking loses no tokens
        kept_n, n_chunks, n_dropped = kept[d]
        assert n_chunks == len(chunk_toks[d])
        assert kept_n <= n
        if n_dropped == 0:
            assert kept_n == n


def test_chunk_dedup_ansi_neutral(spark, docs):
    old = spark.conf.get("spark.sql.ansi.enabled")
    results = []
    try:
        for flag in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", flag)
            results.append(
                sorted(
                    (r.id, r.clean_text, r.n_chunks, r.n_dropped)
                    for r in dedup.dedup_chunks(
                        docs, boundary_mod=4, min_dup_tokens=3
                    ).collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert results[0] == results[1]


def test_doc_containment_is_asymmetric(spark):
    """A short doc embedded verbatim inside a much longer doc: the
    short side's chunk set is contained (high ratio), the long side's
    is not — and an unrelated doc pairs with neither."""
    shared_long = " ".join(f"shared{i} token{i} body{i}" for i in range(80))
    long_extra = " ".join(f"extra{i} filler{i} pad{i} word{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, shared_long),
            (2, shared_long + " " + long_extra),
            (3, " ".join(f"other{i} stuff{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["a"], r["b"]): r["containment"]
        for r in dedup.doc_containment(
            docs, boundary_mod=8, min_tok=4, min_ratio=0.6, min_chunks=2
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.6
    assert (2, 1) not in got  # reverse direction fails the ratio
    assert not any(3 in pair for pair in got)


def test_doc_containment_df_cap_drops_hot_chunk(spark):
    """A chunk shared by more docs than max_df is excluded from
    candidate generation (the quadratic-bucket guard), so pairs that
    exist ONLY through the hot chunk disappear."""
    hot = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [(i, hot) for i in range(10)], "doc_id long, text string"
    )
    capped = dedup.doc_containment(
        docs, boundary_mod=10**9, min_tok=4, min_ratio=0.5,
        min_chunks=1, max_df=5,
    )
    assert capped.count() == 0
    uncapped = dedup.doc_containment(
        docs, boundary_mod=10**9, min_tok=4, min_ratio=0.5,
        min_chunks=1, max_df=100,
    )
    assert uncapped.count() == 90  # all ordered pairs
