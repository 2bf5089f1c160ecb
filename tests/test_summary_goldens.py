"""Required-field, validation-summary and integrity goldens.

tests/data/summary_goldens.jsonl holds the table built by
scripts/gen_summary_goldens.py (every status mix of 0-6 results, fake
results across the risk-tier edges, required fields that are NULL, empty
or whitespace Spark's ``trim`` does or does not strip) with the outputs
that the Catalyst projections of these rules produced before the rules
moved into the pipeline's rule kernel. The kernel's Python functions
must reproduce every output byte for byte, and the kernel itself the
required-field outputs.
"""

from __future__ import annotations

import json
import os

import pytest

from webxtract.schemas import (
    FAKE_RESULT_TYPE,
    FIELD_NAMES,
    INTEGRITY_SUMMARY_TYPE,
    VALIDATION_SUMMARY_TYPE,
)

GOLDENS = os.path.join(os.path.dirname(__file__), "data", "summary_goldens.jsonl")


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDENS, encoding="ascii") as fh:
        rows = [json.loads(line) for line in fh]
    return {k: [g for g in rows if g["kind"] == k] for k in ("summary", "integrity", "required")}


def _named(struct_type, values) -> dict:  # noqa: ANN001
    """A kernel tuple as the dict Spark's ``asDict`` gives, nested structs
    included, so field names and order are checked with the values."""
    out = {}
    for f, v in zip(struct_type.fields, values, strict=True):
        elem = getattr(f.dataType, "elementType", None)
        if hasattr(f.dataType, "fields"):
            v = _named(f.dataType, v)
        elif hasattr(elem, "fields"):
            v = [_named(elem, e) for e in v]
        out[f.name] = v
    return out


def _diff(pairs) -> list:  # noqa: ANN001
    return [(g["id"], got) for g, got in pairs if json.dumps(got) != json.dumps(g["want"])]


def test_validation_summary_matches_goldens(goldens):
    from webxtract.ops.validators import validation_summary

    rows = goldens["summary"]
    pairs = [
        ({**g, "want": g["validation_summary"]},
         _named(VALIDATION_SUMMARY_TYPE, validation_summary(
             [(f"v{i}", s, None, None) for i, s in enumerate(g["statuses"])])))
        for g in rows
    ]
    assert len(rows) == 210
    assert any(g["validation_summary"]["validation_score"] == 0.12 for g in rows)  # 0.125 tie
    bad = _diff(pairs)
    assert not bad, f"{len(bad)} summaries differ, e.g. {bad[:3]}"


def test_integrity_matches_goldens(goldens):
    from webxtract.pipeline import integrity

    rows = goldens["integrity"]
    pairs = []
    for g in rows:
        fake = tuple(g["document_integrity"]["fake_detection"].values())
        score, valid, summary = integrity(fake)
        got = {
            "integrity_score": score,
            "integrity_valid": valid,
            "document_integrity": {"is_valid": valid,
                                   "fake_detection": _named(FAKE_RESULT_TYPE, fake),
                                   "integrity_score": score},
            "integrity_summary": _named(INTEGRITY_SUMMARY_TYPE, summary),
        }
        pairs.append(({**g, "want": {k: g[k] for k in got}}, got))
    assert {g["integrity_summary"]["risk_level"] for g in rows} == {
        "high", "medium", "low", "minimal"}
    bad = _diff(pairs)
    assert not bad, f"{len(bad)} integrity results differ, e.g. {bad[:3]}"


def test_required_fields_match_goldens(spark, goldens):
    """The Python check, and the rule kernel over the same rows in Spark
    (so the strings cross the Arrow boundary as production reads them)."""
    from webxtract.ops.validators import Doc, missing_fields
    from webxtract.pipeline import with_rules

    rows = goldens["required"]
    pairs = []
    for g in rows:
        missing = missing_fields(Doc([g.get(f) for f in FIELD_NAMES]))
        pairs.append(({**g, "want": [g["missing_fields"], g["fields_valid"]]},
                      [missing, not missing]))
    assert any(g.get("first_name") == "\t" and g["fields_valid"] for g in rows)
    bad = _diff(pairs)
    assert not bad, f"{len(bad)} python checks differ, e.g. {bad[:3]}"

    schema = "id int, extracted_text string, " + ", ".join(f"{f} string" for f in FIELD_NAMES)
    df = spark.createDataFrame(
        [(g["id"], None, *[g.get(f) for f in FIELD_NAMES]) for g in rows], schema)
    got = {r["id"]: [r["missing_fields"], r["fields_valid"]]
           for r in with_rules(df).select("id", "missing_fields", "fields_valid").collect()}
    bad = _diff(({**g, "want": [g["missing_fields"], g["fields_valid"]]}, got[g["id"]])
                for g in rows)
    assert len(got) == len(rows)
    assert not bad, f"{len(bad)} kernel rows differ, e.g. {bad[:3]}"
