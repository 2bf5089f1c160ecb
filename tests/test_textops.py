

def test_bpe_pair_counts_hand_computed(spark):
    """'abab' x2 + 'Xb.' -> vocab {abab:2, xb:1}; pairs ab,ba,ab per
    'abab' (weighted 2) and xb (1): ab=4, ba=2, xb=1. 1-char words and
    NULL text contribute nothing."""
    from webxtract.textops import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "abab Xb."), (2, "abab a"), (3, None)],
        "doc_id long, text string",
    )
    got = [(r.pair, r.pair_count) for r in bpe_pair_counts(df).collect()]
    assert got == [("ab", 4), ("ba", 2), ("xb", 1)]


def test_split_sentences_semantics(spark):
    """Leading terminator runs drop (no preceding text), whitespace
    fragments drop BEFORE indexing (sent_idx stays dense), mixed
    .!? terminators split, NULL text yields no rows, and a
    terminator-free doc is one sentence."""
    from webxtract.textops import split_sentences

    df = spark.createDataFrame(
        [
            (1, "One. Two! Three? "),
            (2, "...after dots."),
            (3, "no terminator"),
            (4, None),
            (5, "a.   .b"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["doc_id"], r["sent_idx"], r["sentence"])
        for r in split_sentences(df).orderBy("doc_id", "sent_idx").collect()
    ]
    assert got == [
        (1, 0, "One."),
        (1, 1, "Two!"),
        (1, 2, "Three?"),
        (2, 0, "after dots."),
        (3, 0, "no terminator"),
        # "a.   .b": match1 "a.", match2 "   ." -> trims to "." (kept),
        # match3 "b" — the dot-led fragment keeps its terminator run
        (5, 0, "a."),
        (5, 1, "."),
        (5, 2, "b"),
    ]


def test_lang_id_clf_recovers_planted_languages(spark):
    """The trained hashed-NB classifier (offline fit, committed weight
    table) must classify text carrying a language's stopwords as that
    language — for every language it was trained on."""
    from webxtract.textops import LANG_STOPWORDS, lang_id_clf_frame

    rows = [
        (i, f"filler words here {' '.join(words)}", lang)
        for i, (lang, words) in enumerate(LANG_STOPWORDS.items())
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = lang_id_clf_frame(df, keep_cols=("doc_id", "lang")).collect()
    for r in got:
        assert r["predicted_lang"] == r["lang"], r


def test_lang_id_clf_plan_is_narrow(spark):
    """Serving is one mapInArrow kernel pass: NO exchange, NO join, and
    that kernel is the plan's only Python — one map pass at any corpus
    size."""
    from tests.test_plans import TESTDATA, _plan, _python_node_names

    from webxtract.contract import q_lang_id_clf

    # orderBy + limit folds to TakeOrderedAndProject (no exchange)
    plan = _plan(q_lang_id_clf(spark, TESTDATA).limit(5))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert _python_node_names(plan) == ["MapInArrow"]


def test_lang_id_clf_null_and_empty_text(spark):
    """NULL/empty text must not error (ANSI on) and must yield the
    deterministic tie-break/background argmax, not NULL."""
    from webxtract.textops import lang_id_clf_frame

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    got = lang_id_clf_frame(df).collect()
    for r in got:
        assert r["predicted_lang"] is not None
        assert r["lang_score"] is not None
