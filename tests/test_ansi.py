"""ANSI-mode neutrality leg.

The driver harness hands queries() a default Spark 4 session, where
``spark.sql.ansi.enabled=true``; the builder's own session pins it
false (webxtract/session.py) for reference-matching lenient semantics.
Round 3 shipped a bare ``element_at`` that only crashes under ANSI —
green locally, ERR at the driver. These tests make that class of bug
visible in pytest: every contract query must produce IDENTICAL rows
under both ANSI settings, and the full expression layer must survive
adversarial (NULL / empty / garbage) field values with ANSI on.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest

SF_DIR = "/root/testdata/sf0.001"


@contextmanager
def _ansi(spark, enabled: bool):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true" if enabled else "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _snapshot(df):
    cols = sorted(df.columns)
    return sorted("|".join(_norm(r[c]) for c in cols) for r in df.collect())


def test_contract_queries_ansi_neutral(spark):
    """Every queries() entry: ANSI-on rows == ANSI-off rows (the driver
    compares each against the same DuckDB oracle, so any ANSI
    sensitivity — crash OR value drift — is a driver-seat failure)."""
    import __spark_entry__ as entrymod

    failures = []
    for name, fn in entrymod.queries().items():
        try:
            with _ansi(spark, True):
                on = _snapshot(fn(spark, SF_DIR))
            with _ansi(spark, False):
                off = _snapshot(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: raised {type(e).__name__}: {e}")
            continue
        if on != off:
            diff = next(
                (a, b) for a, b in zip(on, off) if a != b
            ) if len(on) == len(off) else (f"{len(on)} rows", f"{len(off)} rows")
            failures.append(f"{name}: ANSI-on != ANSI-off, first diff {diff}")
    assert not failures, "\n".join(failures)


def test_expression_layer_survives_garbage_ansi(spark):
    """Adversarial field rows — NULL, empty, whitespace, non-numeric
    dates/numbers, empty-split edge cases — through the full
    detection/fake/validation entry points with ANSI on. Proves the
    bounds-safety arguments (split results, Luhn guards, year casts, the
    Catalyst date parse feeding the kernels) hold on the inputs that
    would violate them."""
    from pyspark.sql import functions as F

    from webxtract.ops.detect_type import doc_type_expr
    from webxtract.ops.fake import fake_result_expr
    from webxtract.ops.validators import validation_results_expr, with_parsed_dates
    from webxtract.pipeline import with_rules
    from webxtract.schemas import FIELD_NAMES

    bad = [
        None,  # all-NULL row
        "",  # all-empty row
        "   ",  # whitespace
        "abcd-01-01",  # non-numeric year, date-shaped
        "xx/yy/zzzz",  # non-numeric slash date
        "12/34",  # short slash date, non-4-char tail
        "0x1G",  # non-numeric number
        "1234567890ZZ",  # health-card shaped, garbage version
        "9999999999",  # 10 digits, Luhn path fully evaluated
        ",",  # comma-only full_name (empty comma part)
        "NoSpacesSingleWord",
    ]
    rows = [tuple([i, None] + [v] * len(FIELD_NAMES)) for i, v in enumerate(bad)]
    df = spark.createDataFrame(
        rows,
        "doc_id int, extracted_text string, " + ", ".join(f"{f} string" for f in FIELD_NAMES),
    )

    def run():
        # the summary comes from the pipeline's rule kernel
        fields = with_parsed_dates(with_rules(df, "2026-01-15"))
        dt = doc_type_expr()
        fd = fake_result_expr()
        vr = validation_results_expr(
            dt["document_type"], F.to_date(F.lit("2026-01-15"))
        )
        # the type-specific result, after the 5 base validators
        ts = F.try_element_at(vr, F.lit(6))
        s = F.col("validation_summary")
        out = fields.select(
            "doc_id",
            dt["document_type"].alias("document_type"),
            dt["confidence"].alias("dt_conf"),
            F.array_join(dt["detected_features"], "; ").alias("features"),
            fd["is_fake"].alias("is_fake"),
            fd["confidence"].alias("fk_conf"),
            s["overall_status"].alias("overall_status"),
            s["validation_score"].alias("validation_score"),
            # to_json defeats column pruning: the FULL result structs —
            # including every details-map expression (ages, Luhn,
            # DOB-encoding, version messages) — must evaluate under ANSI
            F.to_json(vr).alias("results_json"),
            F.to_json(ts).alias("ts_json"),
        )
        return _snapshot(out)

    with _ansi(spark, True):
        on = run()
    with _ansi(spark, False):
        off = run()
    assert len(on) == len(bad)
    assert on == off, next((a, b) for a, b in zip(on, off) if a != b)


def test_textops_survive_garbage_ansi(spark):
    """Text-signal expressions (quality, gopher, BPE counts, n-grams,
    fingerprints) on NULL / empty / whitespace / single-char text under
    ANSI: no throw, and NULL text deterministically fails gopher_keep."""
    from pyspark.sql import functions as F

    from webxtract.textops import (
        bpe_token_count_expr,
        gopher_flags_exprs,
        lang_id_expr,
        quality_exprs,
        stable_hash60_expr,
        word_grams_expr,
    )

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "x"), (4, "a\n\n\nb")],
        schema=["doc_id", "text"],
    )
    t = F.col("text")
    sel = [F.col("doc_id")]
    for nm, c in quality_exprs(t).items():
        sel.append(c.alias("q_" + nm))
    g = gopher_flags_exprs(t)
    for nm, c in g.items():
        sel.append(c.alias("g_" + nm))
    sel += [
        bpe_token_count_expr(t).alias("bpe"),
        lang_id_expr(t).alias("lang"),
        stable_hash60_expr(F.coalesce(t, F.lit(""))).alias("h60"),
        F.size(word_grams_expr(t, 3)).alias("n_grams3"),
    ]

    def run():
        return _snapshot(df.select(*sel))

    with _ansi(spark, True):
        on = run()
    with _ansi(spark, False):
        off = run()
    assert on == off, next((a, b) for a, b in zip(on, off) if a != b)
    with _ansi(spark, True):
        keep = {
            r["doc_id"]: r["keep"]
            for r in df.select(
                "doc_id", gopher_flags_exprs(t)["gopher_keep"].alias("keep")
            ).collect()
        }
    # NULL text must be a deterministic reject, not a NULL limbo
    assert keep[0] is False
