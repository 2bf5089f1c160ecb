"""The shared kernel rules (``webxtract.kernels``): Spark parity of
md5-60, the Java ``\\s`` split and ``round``; ids that cross a Python
kernel come back exactly; and no module restates the rules inline."""

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

import webxtract
from webxtract import curation, dedup, textops
from webxtract.kernels import md5_60, spark_round, ws_split

BIG = 2**60 + 1  # not a float64: pandas would turn it into 2**60
TEXT = "the cat sat on the mat, the cat sat. Привет мир 你好"


def test_md5_60_matches_stable_hash60_expr(spark):
    strings = ["hello world", "café crème", "日本語", "astral 😀 𝄞", ""]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r[0] for r in df.select(textops.stable_hash60_expr(F.col("s"))).collect()]
    assert got == [md5_60(s) for s in strings]


def test_ws_split_matches_spark_split_trim(spark):
    strings = ["", "   ", "a b", "  a  b ", "\ta\x0bb\x0cc\rd\n", "a b c"]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r[0] for r in df.select(textops.tokens_expr(F.col("s"))).collect()]
    assert got == [ws_split(s) for s in strings]
    assert ws_split(None) == [""]


def test_spark_round_matches_f_round(spark):
    cases = [
        (2.675, 2),
        (0.0000005, 6),
        (1.0000005, 6),
        (-0.0000015, 6),
        (1e-7, 6),
        (0.125, 2),
        (np.float64(2.675), 2),
        (np.float64(1.0000005), 6),
        # non-finite values and values past 28 digits at dp
        (float("inf"), 2),
        (float("-inf"), 6),
        (float("nan"), 6),
        (1e30, 6),
        (-1.2345678901234567e25, 6),
        (1.7976931348623157e308, 2),
        (5e-324, 6),
    ]
    row = spark.createDataFrame(
        [tuple(float(x) for x, _ in cases)],
        ", ".join(f"x{i} double" for i in range(len(cases))),
    )
    got = row.select(
        *[F.round(f"x{i}", dp) for i, (_, dp) in enumerate(cases)]
    ).first()
    # repr: NaN equals NaN, and -0.0 differs from 0.0
    assert list(map(repr, got)) == [repr(spark_round(x, dp)) for x, dp in cases]


def test_dsir_scores_carry_non_finite_log_ratios(spark):
    """A -inf log-ratio (a bucket the target never hits) scores -inf,
    as Spark's round leaves it, instead of failing the task."""
    df = spark.createDataFrame([(1, "a b"), (2, None)], "doc_id bigint, text string")
    got = curation.dsir_scores_frame(df, [float("-inf")] * 64).orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [(1, 1, float("-inf")), (2, 0, 0.0)]


SCORERS = {
    "repetition_signals": lambda d: curation.repetition_signals(d),
    "tag_topics_frame": lambda d: curation.tag_topics_frame(d),
    "dsir_scores_frame": lambda d: curation.dsir_scores_frame(
        d, [0.01 * b for b in range(64)]
    ),
    "classifier_scores_frame": lambda d: curation.classifier_scores_frame(
        d, [0.01 * b - 0.3 for b in range(64)]
    ),
    "lang_id_clf_frame": lambda d: textops.lang_id_clf_frame(d),
    "script_signals_frame": lambda d: textops.script_signals_frame(d),
}


@pytest.mark.parametrize("name", sorted(SCORERS))
def test_scorer_ids_come_back_exactly(spark, name):
    """One Arrow batch holding a NULL id, an id above 2**53 and a NULL
    text: every id comes back as it went in, and a string-id twin
    scores each document alike."""
    score = SCORERS[name]
    rows = [(None, TEXT), (BIG, TEXT), (7, None)]
    got = score(
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)
    ).collect()
    assert [r[0] for r in got] == [None, BIG, 7]
    assert got[0][1:] == got[1][1:]

    srows = [(None, TEXT), ("d-ü", TEXT), ("7", None)]
    sgot = score(
        spark.createDataFrame(srows, "doc_id string, text string").coalesce(1)
    ).collect()
    assert [r[0] for r in sgot] == [None, "d-ü", "7"]
    assert [r[1:] for r in sgot] == [r[1:] for r in got]


PASSAGE = " ".join(f"w{i % 23} t{i % 7}" for i in range(60))
CHUNK_DOCS = [
    "lead in words " + PASSAGE + " tail one",
    "other preamble " + PASSAGE,
    PASSAGE + " and a different ending here",
    "nothing shared with anyone at all",
]


def _chunk_outputs(df):  # noqa: ANN001, ANN202
    return (
        sorted(
            map(tuple, dedup.duplicate_chunks(df, boundary_mod=4, min_dup_tokens=3).collect())
        ),
        dedup.dedup_chunks(df, boundary_mod=4, min_dup_tokens=3).collect(),
        dedup.doc_containment(df, boundary_mod=4, min_tok=3, min_chunks=1).collect(),
    )


def test_chunk_kernels_take_string_ids(spark):
    """A string-id frame gives the bigint frame's rows under the id
    map (the map keeps the id order, which decides the kept copy)."""
    ids = [1, 2, 3, 4]
    sid = {i: f"doc-{i}" for i in ids}
    num = spark.createDataFrame(list(zip(ids, CHUNK_DOCS)), "doc_id bigint, text string")
    txt = spark.createDataFrame(
        [(sid[i], t) for i, t in zip(ids, CHUNK_DOCS)], "doc_id string, text string"
    )
    n_dup, n_rew, n_con = _chunk_outputs(num)
    s_dup, s_rew, s_con = _chunk_outputs(txt)
    assert n_dup and s_dup == n_dup
    assert sorted((sid[r.id], *r[1:]) for r in n_rew) == sorted(map(tuple, s_rew))
    assert n_con
    assert sorted((sid[r.a], sid[r.b], *r[2:]) for r in n_con) == sorted(
        map(tuple, s_con)
    )


def test_chunk_kernels_carry_ids_exactly(spark):
    """One Arrow batch holding a NULL id and an id above 2**53: each
    chunk kernel returns the ids as they went in."""
    rows = [(None, CHUNK_DOCS[0]), (BIG, CHUNK_DOCS[1]), (7, CHUNK_DOCS[2])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)
    dup, rew, con = _chunk_outputs(df)
    assert dup
    assert sorted(r.id for r in rew if r.id is not None) == [7, BIG]
    assert sum(r.id is None for r in rew) == 1
    meta = dedup._chunk_meta_frame(df, boundary_mod=4).select("id").distinct()
    assert sorted(meta.collect(), key=lambda r: (r.id is not None, r.id)) == [
        (None,),
        (7,),
        (BIG,),
    ]
    # containment pairs never include the NULL id (a.id != b.id)
    assert {(r.a, r.b) for r in con} == {(BIG, 7), (7, BIG)}


def test_spark_parity_rules_live_in_kernels():
    """md5-60, Spark round and the Java \\s split are written once, in
    webxtract/kernels.py (oracles.py holds their SQL twins), and only
    kernels.py turns an Arrow column into Python values (``pylist``,
    under one rule for invalid UTF-8). No kernel in webxtract/ runs
    through a pandas scaffold."""
    root = Path(webxtract.__file__).parent
    patterns = {
        "hexdigest()[:15]": ("kernels.py", "oracles.py"),
        "ROUND_HALF_UP": ("kernels.py", "oracles.py"),
        're.compile(r"\\s+", re.ASCII)': ("kernels.py", "oracles.py"),
        ".to_pylist(": ("kernels.py",),
    }
    found = [
        f"{p.relative_to(root)}: {pat}"
        for p in sorted(root.rglob("*.py"))
        for pat, homes in patterns.items()
        if p.relative_to(root).as_posix() not in homes
        and pat in p.read_text(encoding="utf-8")
    ]
    # streaming.py: applyInPandasWithState has no Arrow twin in Spark
    # 4.1; synth.py: a driver-side generator, not a kernel
    found += [
        f"{p.relative_to(root)}: {pat}"
        for p in sorted(root.rglob("*.py"))
        if p.relative_to(root).as_posix() not in ("streaming.py", "synth.py")
        for pat in ("mapInPandas(", "applyInPandas(", "pandas_udf", "import pandas")
        if pat in p.read_text(encoding="utf-8")
    ]
    assert found == []


# Run inputs a caller supplies at run time though no call site in the
# repository passes one.
_RUN_INPUTS = {("start_pipeline_stream", "run_date"), ("write_corpus", "seed")}


def test_every_optional_parameter_is_set_somewhere():
    """Each optional parameter of a public top-level function in
    webxtract/ is passed by some call site in webxtract/,
    __spark_entry__.py, perfbench/, scripts/, bench*.py or tests/ (by
    keyword, by position, or by a ``*args``/``**kwargs`` forward, which
    counts as passing every parameter). A default no caller overrides is
    a constant, not a setting, and a value nothing runs is code nothing
    checks. Call sites match by function name."""
    root = Path(webxtract.__file__).parent
    repo = root.parent
    sources = [*root.rglob("*.py"), repo / "__spark_entry__.py", *repo.glob("bench*.py"),
               *(repo / "perfbench").rglob("*.py"), *(repo / "scripts").rglob("*.py"),
               *(repo / "tests").rglob("*.py")]
    passed: dict[str, tuple[set, int, bool]] = {}  # name -> (keywords, max #positional, forward)
    for path in sources:
        for call in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            kw, npos, fwd = passed.get(name, (set(), 0, False))
            kw |= {k.arg for k in call.keywords if k.arg is not None}
            fwd = fwd or any(k.arg is None for k in call.keywords) or any(
                isinstance(a, ast.Starred) for a in call.args)
            passed[name] = (kw, max(npos, len(call.args)), fwd)
    unset = []
    for path in sorted(root.rglob("*.py")):
        for fn in ast.parse(path.read_text(encoding="utf-8")).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            args = fn.args
            pos = [a.arg for a in args.posonlyargs + args.args]
            optional = pos[len(pos) - len(args.defaults):] + [
                a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
            kw, npos, fwd = passed.get(fn.name, (set(), 0, False))
            unset += [
                f"{path.relative_to(root)}: {fn.name}({o})" for o in optional
                if not (fwd or o in kw or (o in pos and pos.index(o) < npos)
                        or (fn.name, o) in _RUN_INPUTS)
            ]
    assert unset == []
