"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

Two implementation forms, one per operator:

- built-in column expressions (JVM-side; the higher-order-function
  pieces evaluate interpreted, so every shared subexpression is bound
  once per row via webxtract.exprs.bind_once);
- ``*_frame`` operators (``lang_id_clf_frame``, ``script_signals_frame``):
  one ``mapInArrow`` kernel per batch (``kernels.doc_rows``), for
  the scorers whose expression form was an interpreted per-token or
  per-character cliff.

Each operator has an exact DuckDB-SQL twin in webxtract.oracles
(checked by scripts/oracle_check.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language stopword sets for the stopword-overlap language-ID
# heuristic (well-known function-word lists; deterministic and
# oracle-checkable — the DuckDB oracle is generated from this same
# table, so extending it can never desynchronize the two engines).
# Not a trained langid model; scores = count of a language's stopwords
# present as tokens, argmax with the fixed LANG_ORDER tie-break.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "are"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "une", "dans", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "eine", "für", "nicht"],
    "zh": ["的", "是", "了", "在", "和", "有", "不", "我", "他", "这"],
    # extension languages use only MULTI-CHARACTER stopwords that are
    # not common words of the original five (no 'i'/'do'/'en'/'o'):
    # single-letter and cross-language-ambiguous tokens would steal
    # argmax from en/fr/es text and flip previously-correct predictions
    "pt": ["os", "da", "em", "um", "uma", "não", "são", "como", "para", "mais"],
    "it": ["il", "gli", "di", "che", "è", "per", "non", "sono", "della", "nel"],
    "nl": ["het", "een", "van", "dat", "niet", "zijn", "voor", "aan", "met",
           "ook"],
    "ru": ["и", "в", "не", "на", "что", "это", "как", "его", "она", "был"],
    "ja": ["の", "に", "は", "を", "が", "で", "た", "です", "ます", "から"],
    "ar": ["في", "من", "على", "أن", "إلى", "هذا", "التي", "كان", "لم", "عن"],
    "tr": ["ve", "bir", "bu", "için", "ile", "olarak", "daha", "çok", "gibi", "ama"],
    "pl": ["w", "na", "się", "nie", "jest", "że", "tym", "był", "jak", "ale"],
    "sv": ["och", "att", "det", "som", "på", "är", "av", "för", "inte", "med"],
    "id": ["yang", "dan", "di", "itu", "dengan", "ini", "untuk", "tidak",
           "dari", "dalam"],
    "hi": ["है", "के", "में", "की", "और", "से", "का", "को", "पर", "यह"],
}

# Fixed tie-break order (first wins on equal scores). The original
# five stay first; note the extension can still change a prediction
# for genuinely ambiguous text (a doc scoring higher in a NEW language
# than in any original one was previously 'unknown' or misassigned) —
# the curated lists above minimize, not eliminate, that drift.
LANG_ORDER = [
    "en", "fr", "es", "de", "zh", "pt", "it", "nl", "ru", "ja", "ar",
    "tr", "pl", "sv", "id", "hi",
]

FINGERPRINT_MOD = 2_147_483_647  # 2^31 - 1


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), r"\s+")


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


# GPT-2-style pre-tokenizer pattern (contractions, letter runs, digit
# runs, punctuation runs, whitespace runs). Deliberately restricted to
# syntax that Java regex and DuckDB's RE2 interpret identically (no
# backrefs, no lookahead) so the count is oracle-checkable. This is the
# *pre-tokenization* granularity a byte-pair encoder starts from — a
# calibrated token-budget estimate, not a real BPE vocabulary.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count_expr(text: Column) -> Column:
    """Approximate LLM-token count via the GPT-2 pre-tokenizer split.
    NULL text -> NULL (F.size alone would yield the legacy -1)."""
    n = F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), F.lit(0)))
    return F.when(text.isNotNull(), n)


def quality_exprs(text: Column) -> dict[str, Column]:
    """Deterministic quality signals: char/token counts, type-token
    ratio, punctuation & digit ratios, mean token length — the
    length/punct/stopword heuristics of C4/Gopher-style filters."""
    toks = tokens_expr(text)
    # size(NULL array) is -1 lenient but NULL under ANSI (legacy
    # sizeOfNull is tied to the ANSI flag): pin NULL-text to NULL
    # signals in BOTH modes — which is also what DuckDB's len(NULL)
    # oracle computes.
    n_tokens = F.when(text.isNotNull(), F.size(toks))
    n_distinct = F.when(text.isNotNull(), F.size(F.array_distinct(toks)))
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "n_distinct_tokens": n_distinct.cast("bigint"),
        "ttr": F.round(n_distinct / n_tokens.cast("double"), 6),
        # Guard n_chars == 0 (empty text): x/0.0 is NULL lenient but
        # DIVIDE_BY_ZERO under ANSI — emit a deterministic NULL in both.
        "punct_ratio": F.round(
            F.when(n_chars > 0, n_punct / n_chars.cast("double")), 6
        ),
        "digit_ratio": F.round(
            F.when(n_chars > 0, n_digit / n_chars.cast("double")), 6
        ),
        "mean_token_len": F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
            / n_tokens.cast("double"),
            6,
        ),
    }


# Gopher rule constants (Rae et al. 2021 §A1.1): bounds and the
# required-stopword probe set.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_BULLET_RE = r"^[\s]*([-*•‣◦])"


def gopher_flags_exprs(text: Column) -> dict[str, Column]:
    """Gopher-style document quality flags, each an independent boolean
    plus the conjunctive ``gopher_keep``:

    - word count in [50, 100000]
    - mean word length in [3, 10]
    - symbol-to-word ratio (# and ellipsis) <= 0.1
    - < 90% of lines start with a bullet
    - < 30% of lines end with an ellipsis
    - >= 80% of words contain an alphabetic character
    - >= 2 of the 8 probe stopwords present

    Pure expressions over one bound token/line split — zero Python,
    zero shuffles, DuckDB-replicable."""
    from webxtract.exprs import bind_once

    def build(p: Column) -> Column:
        toks, lines = p["toks"], p["lines"]
        n = F.size(toks)
        nd = n.cast("double")
        mean_len = (
            F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / nd
        )
        n_symbols = (
            F.size(F.filter(toks, lambda t: t.isin("#", "...", "…")))
        )
        n_lines = F.size(lines)
        n_bullet = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE)))
        n_ell = F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
        )
        n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        n_stop = F.size(
            F.filter(
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
                lambda s: F.array_contains(toks, s),
            )
        )
        return F.struct(
            ((n >= 50) & (n <= 100000)).alias("ok_word_count"),
            ((mean_len >= 3.0) & (mean_len <= 10.0)).alias("ok_mean_word_len"),
            (n_symbols / nd <= 0.1).alias("ok_symbol_ratio"),
            (n_bullet / F.greatest(n_lines, F.lit(1)).cast("double") < 0.9).alias(
                "ok_bullets"
            ),
            (n_ell / F.greatest(n_lines, F.lit(1)).cast("double") < 0.3).alias(
                "ok_ellipsis"
            ),
            (n_alpha / nd >= 0.8).alias("ok_alpha_words"),
            (n_stop >= 2).alias("ok_stopwords"),
        )

    # Coalesce NULL text to "": without it every ok_* flag is NULL and
    # a NULL-text document is neither kept nor counted as rejected —
    # inconsistent with line_repetition/remove_boilerplate NULL handling.
    text = F.coalesce(text, F.lit(""))
    flags = bind_once(
        F.struct(
            tokens_expr(text).alias("toks"),
            F.split(text, r"\n").alias("lines"),
        ),
        build,
    )
    names = [
        "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio", "ok_bullets",
        "ok_ellipsis", "ok_alpha_words", "ok_stopwords",
    ]
    out: dict[str, Column] = {nm: flags[nm] for nm in names}
    keep = flags[names[0]]
    for nm in names[1:]:
        keep = keep & flags[nm]
    out["gopher_keep"] = keep
    return out


def word_grams_expr(text: Column, k: int) -> Column:
    """ALL word k-grams in order (duplicates KEPT — repetition counting
    needs multiplicity, unlike word_shingles_expr's distinct sets)."""
    from webxtract.exprs import bind_once

    return bind_once(
        tokens_expr(text),
        lambda toks: F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def lang_id_expr(text: Column) -> Column:
    """Stopword-overlap language ID: score per language = number of its
    stopwords present as tokens; argmax with fixed tie-break order.

    Token array, score struct and max score are each bound once per row
    (bind_once): interpreted contexts have no common-subexpression
    elimination, so naming these inline re-evaluates the tokenizer and
    all five intersects at every reference site (~15x re-tokenization;
    measured 12.4s -> 1.9s warm for 5k docs)."""
    from webxtract.exprs import bind_once

    def argmax(s: Column, best: Column) -> Column:
        chain = None
        for lang in LANG_ORDER:
            cond = s[lang] == best
            chain = F.when(cond, lang) if chain is None else chain.when(cond, lang)
        return F.when(best > 0, chain).otherwise(F.lit("unknown"))

    return bind_once(
        F.array_distinct(tokens_expr(F.lower(text))),
        lambda toks: bind_once(
            F.struct(
                *[
                    F.size(
                        F.array_intersect(
                            toks, F.array(*[F.lit(w) for w in words])
                        )
                    ).alias(lang)
                    for lang, words in LANG_STOPWORDS.items()
                ]
            ),
            lambda s: bind_once(
                F.greatest(*[s[lang] for lang in LANG_ORDER]),
                lambda best: argmax(s, best),
            ),
        ),
    )


def lang_id_clf_frame(
    df: "DataFrame",  # noqa: F821
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> "DataFrame":  # noqa: F821
    """Trained hashed-NB language ID — the model-based upgrade of the
    ``lang_id_expr`` stopword toy: (keep_cols..., predicted_lang,
    lang_score) from ONE mapInArrow pass (``kernels.doc_rows``), zero
    shuffles, zero joins. The per-language log-odds weight tables are
    fitted offline and deterministically by ``scripts/fit_lang_clf.py``
    and committed as ``webxtract/lang_clf.py``; they ship to the
    workers with the kernel's closure.

    Per row: lowercase, then ``kernels.ws_split``, one bucket per token
    (``kernels.md5_60`` mod LANG_CLF_BUCKETS), then per language the
    float64 sum of ``w_lang[bucket]`` in token order and ``score =
    round(sum/n, 6)`` (``kernels.spark_round``). The score rounds
    BEFORE the argmax so last-ulp drift cannot flip the winner against
    the DuckDB oracle; the argmax is the greatest score, ties to the first
    language in LANG_CLF_LANGS order. NULL, empty and blank text
    tokenize to the single empty token, so they score like any other
    one-token document and never yield NULL. The expression form this
    replaced hashed every token with an interpreted lambda (18-19
    executor-CPU core-s / 1.4 s at sf1.0; ~1 core-s here)."""
    from pyspark.sql.types import DoubleType, StringType, StructField

    from webxtract.kernels import doc_rows, md5_60, spark_round, ws_split
    from webxtract.lang_clf import (
        LANG_CLF_BUCKETS,
        LANG_CLF_LANGS,
        LANG_CLF_WEIGHTS,
    )

    langs = list(LANG_CLF_LANGS)
    tables = [[float(x) for x in LANG_CLF_WEIGHTS[la]] for la in langs]
    nb = int(LANG_CLF_BUCKETS)

    def rows_of(t):  # noqa: ANN001, ANN202
        buckets = [md5_60(tk) % nb for tk in ws_split((t or "").lower())]
        n = float(len(buckets))
        per = []
        for tab in tables:
            acc = 0.0
            for b in buckets:
                acc = acc + tab[b]
            per.append(spark_round(acc / n, 6))
        best_s = max(per)
        return [(langs[per.index(best_s)], best_s)]

    fields = [
        StructField("predicted_lang", StringType(), True),
        StructField("lang_score", DoubleType(), True),
    ]
    return doc_rows(df, keep_cols, ["text"], fields, lambda: rows_of)


def stable_hash60_expr(s: Column) -> Column:
    """Engine-neutral 60-bit hash: low 15 hex chars of md5, one native
    call per value on both engines — Spark
    ``conv(substr(md5(s),1,15),16,10)``, DuckDB
    ``('0x' || substr(md5(s),1,15))::BIGINT``. This is the production
    hash for dedup/fingerprint paths (the round-1 per-character
    polynomial hash was interpreted per code point — 42 ms/doc);
    xxhash64 would be marginally faster but is not reproducible in the
    DuckDB oracle."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def fingerprint_expr(text: Column) -> Column:
    """Deterministic 60-bit document fingerprint (md5-derived), one
    native hash call per document on both engines — the production
    fingerprint path. (Round 1 used a per-code-point polynomial rolling
    hash here; engine-neutral but interpreted per character — replaced
    per the scale review.)"""
    return stable_hash60_expr(text)


def word_shingles_expr(text: Column, k: int = 2) -> Column:
    """Distinct k-word shingles (space-joined). The token array is bound
    once per row (bind_once): inlining ``toks`` would re-run the
    tokenizer regex at every ``element_at`` site in the interpreted HOF
    — O(shingles x tokens) re-tokenization per document (measured:
    58.8s -> 3.1s warm for 5k docs on the consecutive-Jaccard query)."""
    from webxtract.exprs import bind_once

    return bind_once(
        tokens_expr(text),
        lambda toks: F.when(
            F.size(toks) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + j) for j in range(k)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


# Unicode scripts probed by script_signals_frame: (column suffix,
# script property). The kernel's `regex` module reads IsLatin /
# IsCyrillic / ... like Java regex; DuckDB's RE2 twin uses \p{Latin}
# etc. — all read the same Unicode script data, so membership agrees.
SCRIPTS = [
    ("latin", r"\p{IsLatin}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("han", r"\p{IsHan}"),
    ("arabic", r"\p{IsArabic}"),
    ("hangul", r"\p{IsHangul}"),
    ("devanagari", r"\p{IsDevanagari}"),
]


_SCRIPT_LUT: dict = {"arr": None, "res": None}
_JAVA_WS = {0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D}  # Java regex \s (ASCII)


def _script_lut():  # noqa: ANN202
    """Lazy codepoint -> class lookup (0..len(SCRIPTS)-1 per script,
    len = ASCII-\\s, len+1 = other). Module-level so a reused Python
    worker keeps it across tasks; codepoints are classified on first
    sight only (the fixture corpus has a few hundred distinct chars),
    via the `regex` module's \\p{IsXxx} script properties — the same
    Unicode script data Java's regex and DuckDB's RE2 read."""
    if _SCRIPT_LUT["arr"] is None:
        import numpy as np
        import regex as _re

        _SCRIPT_LUT["arr"] = np.full(0x110000, 255, dtype=np.uint8)
        _SCRIPT_LUT["res"] = [
            _re.compile(r"\A" + cls + r"\Z") for _, cls in SCRIPTS
        ]
    return _SCRIPT_LUT["arr"], _SCRIPT_LUT["res"]


def script_signals_frame(df: "DataFrame") -> "DataFrame":  # noqa: F821
    """Per-document Unicode-script profile — the cheap router that
    decides which downstream language/quality stack a crawl document
    enters before any model-based language ID runs: (id,
    dominant_script, frac_<script>... in sorted column order) from ONE
    mapInArrow pass (``kernels.doc_rows``), zero shuffles.

    frac_<script> = characters of that script / non-whitespace
    characters (whitespace is Java regex ASCII ``\\s``), rounded 6 dp
    with ``kernels.spark_round``; the division is an exact
    int->float64 one. 0.0 when the text has no non-whitespace
    character. dominant_script is the first script in SCRIPTS order
    with the strictly greatest positive count, 'other' when no probed
    script occurs. NULL text profiles as empty text.

    Each character is classified once through a lazily-built codepoint
    lookup table and counted with one bincount per document (~5
    core-s at sf1.0, against 46-66 executor-CPU core-s for the
    len(SCRIPTS)+1 Java regex-replace passes of the expression form
    this replaced)."""
    from pyspark.sql.types import DoubleType, StringType, StructField

    from webxtract.kernels import doc_rows, spark_round

    names = [n for n, _ in SCRIPTS]
    cols = ["dominant_script"] + [f"frac_{n}" for n in names]
    out_cols = sorted(cols)
    order = [cols.index(c) for c in out_cols]

    def make_rows():  # noqa: ANN202
        import numpy as np

        lut, res = _script_lut()
        n_s = len(names)

        def classify(cps):  # noqa: ANN001, ANN202
            fresh = cps[lut[cps] == 255]
            for cp in np.unique(fresh):
                ch = chr(int(cp))
                cls = n_s + 1
                if int(cp) in _JAVA_WS:
                    cls = n_s
                else:
                    for i, r in enumerate(res):
                        if r.match(ch):
                            cls = i
                            break
                lut[cp] = cls
            return lut[cps]

        def rows_of(t):  # noqa: ANN001, ANN202
            if t:
                cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                counts = np.bincount(classify(cps), minlength=n_s + 2)
            else:
                t, counts = "", np.zeros(n_s + 2, dtype=np.int64)
            base = int(len(t) - counts[n_s])
            fracs = [
                spark_round(int(counts[i]) / base, 6) if base > 0 else 0.0
                for i in range(n_s)
            ]
            best, dom = 0, "other"
            for i, nm in enumerate(names):
                c = int(counts[i])
                if c > 0 and c > best:
                    best, dom = c, nm
            row = [dom] + fracs
            return [tuple(row[i] for i in order)]

        return rows_of

    fields = [
        StructField(c, StringType() if c == "dominant_script" else DoubleType(), True)
        for c in out_cols
    ]
    return doc_rows(df, ["doc_id"], ["text"], fields, make_rows)


def bm25_scores(df: "DataFrame", terms: tuple[str, ...]) -> "DataFrame":  # noqa: F821
    """Okapi BM25 relevance of every document against a fixed query
    term set — the lexical scorer used for search relevance and
    quality-targeted data selection (select-by-query curation).

    idf(t) = ln((N - df_t + 0.5)/(df_t + 0.5) + 1)   (Lucene form)
    score  = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1-b + b·dl/avgdl))
    with k1 = 1.2 and b = 0.75.

    Scale shape: TWO corpus scans and ZERO wide shuffles — pass 1 is a
    partial-aggregated global reduce to one stats row (N, avgdl exact
    from integer sums, df per term), pass 2 broadcasts that row back
    (crossJoin of a 1-row frame) and scores each document in a pure
    projection. Term tf comes from size(filter(tokens)) per term —
    per-document work, whole-stage codegen.

    Cross-engine determinism: N/df/dl/sum(dl) are exact integers, so
    idf and the length normalization are identical doubles up to one
    libm ln ulp; the per-term summation is written in fixed term order
    on both sides and the final score rounds to 6 dp.
    """
    from pyspark.sql import functions as F

    toks = F.filter(
        tokens_expr(F.coalesce(F.col("text"), F.lit(""))),
        lambda t: F.length(t) > 0,
    )
    def _tf(term: str):  # one-arg lambda: a 2-arg filter lambda would
        # receive the array INDEX as its second argument
        return F.size(F.filter(F.col("__toks"), lambda x: x == F.lit(term)))

    base = df.select(F.col("doc_id"), toks.alias("__toks")).select(
        "doc_id",
        F.size("__toks").cast("long").alias("__dl"),
        *[_tf(t).cast("long").alias(f"__tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    n, sumdl = F.col("__n"), F.col("__sumdl")
    avgdl = sumdl.cast("double") / n.cast("double")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfr = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            (n.cast("double") - dfr + F.lit(0.5)) / (dfr + F.lit(0.5)) + F.lit(1.0)
        )
        norm = F.lit(1.0 - 0.75) + F.lit(0.75) * (F.col("__dl").cast("double") / avgdl)
        score = score + idf * (tf * F.lit(1.2 + 1.0)) / (tf + F.lit(1.2) * norm)
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("bm25"))
    )


def eval_tokens_expr(text: Column) -> Column:
    """Lowercased alphanumeric tokens for extraction-quality scoring
    (the tokenization extraction benchmarks score against: case- and
    punctuation-insensitive, so markup debris and spacing drift don't count
    as content differences). NULL-safe; empty text -> empty array."""
    return F.filter(
        F.split(F.trim(F.lower(F.coalesce(text, F.lit("")))), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )


def extraction_eval(
    df: "DataFrame",  # noqa: F821
    gold_col: Column,
    cand_col: Column,
) -> "DataFrame":  # noqa: F821
    """Token-multiset precision / recall / F1 of a candidate extraction
    against gold text — the scoring function of the public
    main-content-extraction benchmarks (trafilatura/boilerpipe evals),
    run distributively so an extractor change can be regression-scored
    over the whole crawl.

    inter = Σ_{t ∈ distinct(gold ∪ cand)} min(count_cand(t), count_gold(t))
    precision = inter / |cand|,  recall = inter / |gold|,
    f1 = 2pr/(p+r); NULL where the denominator is empty, 6-dp rounds
    computed from raw doubles in both engines.

    Scale shape: strictly PER-ROW expressions — zero shuffles, zero
    Python, embarrassingly parallel over 10^12 docs (the alternative
    explode→groupBy(doc,token) formulation the DuckDB oracle uses would
    shuffle ~10^14 token rows). The multiset intersection is a
    higher-order aggregate over the distinct-token union (quadratic in
    per-doc distinct tokens — bounded, docs are capped upstream); the
    two token arrays bind once via a struct so the interpreted HOF
    evaluates each split exactly once per row. The stage-2 metric
    projection reads inter/n_* as named columns: CollapseProject keeps
    non-cheap aliases referenced more than once un-inlined, so the
    aggregate runs once per row, not once per metric.
    """
    from webxtract.exprs import bind_once

    pair = F.struct(
        eval_tokens_expr(gold_col).alias("g"),
        eval_tokens_expr(cand_col).alias("a"),
    )

    def _counts(p: Column) -> Column:
        g, a = p["g"], p["a"]
        inter = F.aggregate(
            F.array_distinct(F.concat(a, g)),
            F.lit(0),
            lambda acc, tok: acc
            + F.least(
                F.size(F.filter(a, lambda u: u == tok)),
                F.size(F.filter(g, lambda v: v == tok)),
            ),
        )
        return F.struct(
            F.size(g).cast("long").alias("n_gold"),
            F.size(a).cast("long").alias("n_cand"),
            inter.cast("long").alias("inter"),
        )

    # The struct materializes as ONE column in its own projection, with
    # field extraction in the NEXT select: fanning the fields out here
    # would plant three copies of the whole tree, and Spark's
    # subexpression elimination cannot merge them (EquivalentExpressions
    # skips lambda-variable trees), so the aggregate would run 3x/row.
    # CollapseProject leaves the split alone — the alias is non-cheap
    # and referenced more than once.
    stage1 = df.select("doc_id", bind_once(pair, _counts).alias("__m")).select(
        "doc_id",
        F.col("__m")["n_gold"].alias("n_gold"),
        F.col("__m")["n_cand"].alias("n_cand"),
        F.col("__m")["inter"].alias("inter_tokens"),
    )
    n_g, n_a, iv = F.col("n_gold"), F.col("n_cand"), F.col("inter_tokens")
    p_raw = iv.cast("double") / n_a.cast("double")
    r_raw = iv.cast("double") / n_g.cast("double")
    f1_raw = F.lit(2.0) * p_raw * r_raw / (p_raw + r_raw)
    return stage1.select(
        "doc_id",
        "n_gold",
        "n_cand",
        "inter_tokens",
        F.when(n_a > 0, F.round(p_raw, 6)).alias("prec"),
        F.when(n_g > 0, F.round(r_raw, 6)).alias("rec"),
        F.when(
            (n_a > 0) & (n_g > 0),
            F.when(iv > 0, F.round(f1_raw, 6)).otherwise(F.lit(0.0)),
        ).alias("f1"),
    )


def build_postings(
    df: "DataFrame",  # noqa: F821
    max_postings: int = 100,
    min_df: int = 1,
    n_salts: int = 16,
) -> "DataFrame":  # noqa: F821
    """Inverted-index postings build — the searchable product a crawl
    extraction tier feeds to Lucene-class systems. One output row per
    retained (term, rank): term-level stats (document frequency df,
    corpus total_tf) plus the posting (doc_id, tf), where rank orders
    postings by (tf DESC, doc_id) and only the top `max_postings` per
    term are kept (impact-ordered index truncation).

    Tokenization is `eval_tokens_expr` (lowercased alphanumeric) — the
    same analyzer as extraction-quality scoring.

    Scale shape / skew: per-(term, doc) tf is a partial-aggregated
    groupBy, safe for stop-words. The top-k per term is TWO-PHASE so a
    hot term never lands its whole posting list in one window
    partition: phase 1 ranks within (term, salt = doc hash % n_salts)
    and keeps `max_postings` per salt — a superset of the global top-k
    by the same ordering — bounding the final per-term partition at
    n_salts * max_postings rows; phase 2 ranks the pruned candidates.
    Term stats (df, total_tf) come from their own partial-aggregated
    reduce over the UNCAPPED tf frame, so truncation never skews df.
    Payloads everywhere are (term, id, counts) — text never shuffles.
    """
    from pyspark.sql import Window

    toks = eval_tokens_expr(F.coalesce(F.col("text"), F.lit("")))
    tf = (
        df.select(F.col("doc_id"), F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts))
    w_salt = Window.partitionBy("term", salt).orderBy(
        F.desc("tf"), F.col("doc_id")
    )
    cand = tf.withColumn("__r", F.row_number().over(w_salt)).where(
        F.col("__r") <= max_postings
    )
    w_term = Window.partitionBy("term").orderBy(F.desc("tf"), F.col("doc_id"))
    ranked = cand.withColumn("rank", F.row_number().over(w_term)).where(
        F.col("rank") <= max_postings
    )
    return (
        ranked.join(stats, "term")
        .where(F.col("df") >= min_df)
        .select("term", "df", "total_tf", "rank", F.col("doc_id"), "tf")
    )


def bpe_pair_counts(
    df: "DataFrame",  # noqa: F821
    top_k: int = 50,
) -> "DataFrame":  # noqa: F821
    """The first BPE merge step of tokenizer induction: adjacent
    character-pair frequencies over the corpus, weighted by word
    frequency — the statistic a BPE/WordPiece trainer maximizes when
    choosing its next merge. Returns the ``top_k`` (pair, pair_count)
    rows under the total order (count DESC, pair ASC).

    Scale shape: the ONLY corpus-wide shuffle is the word-frequency
    reduce (partial-aggregated, (word, count) payloads — the same
    profile as top_tokens). The pair explode then runs over the
    DISTINCT vocabulary, whose size is bounded by language (~10^6-10^7
    types) regardless of corpus row count, so the second aggregation's
    cost is scale-INDEPENDENT: 100 TB of text and 100 GB of text do
    the same pair work after the vocab reduce. Top-k is orderBy+limit
    → TakeOrderedAndProject (per-partition heaps + driver merge),
    never a full sort. Analyzer: eval_tokens_expr, shared with
    extraction-quality scoring and the postings build."""
    toks = eval_tokens_expr(F.coalesce(F.col("text"), F.lit("")))
    vocab = (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs = vocab.where(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(top_k)
    )


SENTENCE_RE = r"[^.!?]+[.!?]*"


def split_sentences(df: "DataFrame") -> "DataFrame":  # noqa: F821
    """Sentence segmentation: one row per sentence, ``(id, sent_idx,
    sentence)`` with 0-based post-filter indexes — the preprocessing
    step feeding per-sentence dedup, bitext alignment, and
    sentence-level quality filters (C4 splits on sentences before its
    line rules; NLLB/CCMatrix mine per sentence).

    A sentence is a maximal run of non-terminator characters plus its
    trailing ``.!?`` run (``[^.!?]+[.!?]*`` — greedy, identical
    semantics in Java regex and RE2, no lookbehind, so the DuckDB twin
    runs the same pattern verbatim). Matches are trimmed; empty/
    whitespace-only fragments drop BEFORE indexing, so ``sent_idx`` is
    dense. A leading terminator run ("...") has no preceding text and
    is dropped by the ``[^.!?]+`` requirement — documented semantics,
    not an accident.

    Scale shape: pure narrow projection — regexp_extract_all + trim +
    filter + posexplode, zero shuffles, zero Python; the explode
    multiplies rows ~30x (sentences/doc) but each carries only (id,
    idx, sentence), and it runs AFTER any pushed filters."""
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(SENTENCE_RE),
                0,
            ),
            # explicit 1-arg lambda: a bare F.trim here binds pyspark's
            # (src, trim) 2-arg overload with the ELEMENT INDEX as the
            # trim charset — silently wrong output
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    return df.select(
        F.col("doc_id"),
        F.posexplode(sents).alias("sent_idx", "sentence"),
    ).select(
        "doc_id", F.col("sent_idx").cast("long").alias("sent_idx"), "sentence"
    )
