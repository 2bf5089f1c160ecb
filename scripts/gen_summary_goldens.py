"""Build the per-document summary goldens: required-field check,
validation summary and integrity result.

The table covers:
- every status mix of 0-6 validator results (so active 0-6, the
  all-skipped mixes and the 0.125 score tie);
- fake results across the risk-tier edges (confidence 0.0, 0.4, 0.7
  and 1.0 and values beside them, ``is_fake`` true and false, empty and
  non-empty reasons);
- required fields that are NULL, ``""``, ``" "``, ``"\\t"`` and other
  whitespace Spark's ``trim`` does not strip, one field at a time, all
  at once and in seeded random mixes.

Each row gets the outputs of the Catalyst projections that computed
these three rules before they moved into the rule kernel:
``fields.missing_fields_expr``, ``validators.validation_summary_expr``
and ``pipeline.integrity_summary_expr`` plus ``run_pipeline``'s
integrity score, validity and ``document_integrity`` struct. Those
functions exist up to commit be18828, so the script runs against that
tree:

    git archive be18828 | tar -x -C /tmp/webxtract-be18828
    PYTHONPATH=/tmp/webxtract-be18828 python scripts/gen_summary_goldens.py

It writes one JSON object per row to ``tests/data/summary_goldens.jsonl``
(or the path given as the first argument), leaving out NULL inputs.
``tests/test_summary_goldens.py`` checks that the rule kernel's Python
reproduces every output byte for byte.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import sys

OUT = "tests/data/summary_goldens.jsonl"

STATUSES = ("passed", "failed", "warning", "skipped")
CONFIDENCES = [0.0, 0.01, 0.2, 0.35, 0.39, 0.4, 0.41, 0.5, 0.65, 0.69, 0.7, 0.71,
               0.85, 0.99, 1.0]
REASONS = [
    [],
    ["Specimen keyword found: specimen"],
    ["Fake name detected: John Doe", "Sequential number: 123456789", "Straße ŧest; ok"],
]
BLANKS = [None, "", " ", "\t", "   ", " \t ", "\n", "\u00a0", "\u3000", "x", " x "]


def summary_rows() -> list[dict]:
    rows = []
    for total in range(7):
        for counts in itertools.product(range(total + 1), repeat=4):
            if sum(counts) == total:
                rows.append({"kind": "summary", "statuses": [
                    s for s, n in zip(STATUSES, counts) for _ in range(n)]})
    return rows


def integrity_rows() -> list[dict]:
    return [
        {"kind": "integrity", "is_fake": f, "confidence": c, "reasons": r}
        for c in CONFIDENCES for f in (False, True) for r in REASONS
    ]


def required_rows() -> list[dict]:
    from webxtract.schemas import REQUIRED_FIELDS

    rows = []
    for v in BLANKS:
        rows.append(dict.fromkeys(REQUIRED_FIELDS, v))
        for f in REQUIRED_FIELDS:
            rows.append({**dict.fromkeys(REQUIRED_FIELDS, "x"), f: v})
    rnd = random.Random(20260115)
    rows += [{f: rnd.choice(BLANKS) for f in REQUIRED_FIELDS} for _ in range(120)]
    return [{"kind": "required", **r} for r in rows]


def main(out: str = OUT) -> None:
    from pyspark.sql import functions as F

    from webxtract.ops.fake import CHECKS_PERFORMED
    from webxtract.ops.fields import missing_fields_expr
    from webxtract.ops.validators import RESULTS_TYPE, validation_summary_expr
    from webxtract.pipeline import integrity_summary_expr
    from webxtract.schemas import FAKE_RESULT_TYPE, FIELD_NAMES, REQUIRED_FIELDS
    from webxtract.session import get_spark

    spark = get_spark("gen-summary-goldens", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false"})
    summ, integ, req = summary_rows(), integrity_rows(), required_rows()

    df = spark.createDataFrame(
        [(i, [(f"v{j}", s, None, None) for j, s in enumerate(r["statuses"])])
         for i, r in enumerate(summ)],
        f"i int, results {RESULTS_TYPE.simpleString()}")
    got = df.select("i", validation_summary_expr(F.col("results")).alias("s")).collect()
    for g in got:
        summ[g["i"]]["validation_summary"] = g["s"].asDict(recursive=True)

    df = spark.createDataFrame(
        [(i, (r["is_fake"], r["confidence"], r["reasons"], CHECKS_PERFORMED))
         for i, r in enumerate(integ)],
        f"i int, fake_detection {FAKE_RESULT_TYPE.simpleString()}")
    fake = F.col("fake_detection")
    # run_pipeline's integrity columns, as it computed them
    score = F.greatest(F.lit(0.0), F.lit(1.0) - fake["confidence"])
    got = df.select(
        "i", score.alias("integrity_score"), (~fake["is_fake"]).alias("integrity_valid"),
        F.struct((~fake["is_fake"]).alias("is_valid"), fake.alias("fake_detection"),
                 score.alias("integrity_score")).alias("document_integrity"),
        integrity_summary_expr(fake).alias("integrity_summary"),
    ).collect()
    for g in got:
        integ[g["i"]].update({k: v for k, v in g.asDict(recursive=True).items() if k != "i"})

    df = spark.createDataFrame(
        [(i, *[r.get(f) for f in FIELD_NAMES]) for i, r in enumerate(req)],
        "i int, " + ", ".join(f"{f} string" for f in FIELD_NAMES))
    missing = missing_fields_expr()
    got = df.select("i", missing.alias("missing_fields"),
                    (F.size(missing) == 0).alias("fields_valid")).collect()
    for g in got:
        req[g["i"]].update(missing_fields=g["missing_fields"], fields_valid=g["fields_valid"])

    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w", encoding="ascii") as fh:
        for i, r in enumerate(summ + integ + req):
            given = {k: v for k, v in r.items()
                     if not (v is None and k in REQUIRED_FIELDS)}
            fh.write(json.dumps({"id": i, **given}) + "\n")
    print(f"{len(summ)} summary, {len(integ)} integrity, {len(req)} required rows -> {out}")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
