"""Detection and fake-scoring goldens.

tests/data/rule_goldens.jsonl holds the fuzz table built by
scripts/gen_rule_goldens.py (every D1-D8 branch, every F1-F6 check and
the Spark string-semantics traps) with the ``doc_type`` and
``fake_detection`` structs that the Catalyst-expression forms of these
rules produced before the rules became Python functions in one Arrow
kernel. The pipeline's rule kernel and the standalone entry points must
both reproduce every struct byte for byte, list order included.
"""

from __future__ import annotations

import json
import os

import pytest

from webxtract.schemas import FIELD_NAMES

GOLDENS = os.path.join(os.path.dirname(__file__), "data", "rule_goldens.jsonl")
INPUTS = ["extracted_text", *FIELD_NAMES]
STRUCTS = ("doc_type", "fake_detection")


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDENS, encoding="ascii") as fh:
        return [json.loads(line) for line in fh]


@pytest.fixture(scope="module")
def fuzz(spark, goldens):
    schema = "id int, " + ", ".join(f"{c} string" for c in INPUTS)
    rows = [(g["id"], *[g.get(c) for c in INPUTS]) for g in goldens]
    return spark.createDataFrame(rows, schema)


def _assert_matches(df, goldens) -> None:  # noqa: ANN001
    got = {r["id"]: r for r in df.select("id", *STRUCTS).collect()}
    bad = [
        (g["id"], c, got[g["id"]][c])
        for g in goldens
        for c in STRUCTS
        if json.dumps(got[g["id"]][c].asDict(recursive=True)) != json.dumps(g[c])
    ]
    assert len(got) == len(goldens) > 1000
    assert not bad, f"{len(bad)} structs differ, e.g. {bad[:3]}"


def test_rule_kernel_matches_goldens(fuzz, goldens):
    from webxtract.pipeline import with_rules

    _assert_matches(with_rules(fuzz), goldens)


def test_entry_points_match_goldens(fuzz, goldens):
    from webxtract.ops.detect_type import with_doc_type
    from webxtract.ops.fake import with_fake_detection

    df = with_fake_detection(with_doc_type(fuzz), raw_text_col="extracted_text")
    _assert_matches(df, goldens)
