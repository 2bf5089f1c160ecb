"""End-to-end pipeline composition (the columnar form of the reference's
flagship request lifecycle, POST /ocr/extract/image?validate=true —
SURVEY.md §3.3):

    map side:    parquet scan -> extraction kernel (mapInArrow)
                 -> 13 fields (one Catalyst projection)
    exchange:    salted url-hash repartition (audit.partition_by_url)
    reduce side: three parsed dates (Catalyst) -> ONE rule kernel (Arrow
                 UDF: required fields, type detection, fake scoring,
                 integrity, doc_type_enum, validator battery, summary)
                 -> selection (output order, document_integrity, success)

The physical plan Spark builds has two stages around ONE Exchange. Map
side: the parquet scan, the extraction kernel's one ``MapInArrow`` node
(``kernels.doc_rows``, named ``_extract_rows``), and the field
projection.
Reduce side: a projection parsing the three dates, then a
single ``ArrowEvalPython`` node running ``_rule_kernel`` (it reuses the
extraction's Python workers), then a projection that only selects the
kernel's outputs, packs ``document_integrity`` and computes ``success``.
The Exchange only partitions: it carries the extracted text and fields,
and no rule result is computed before it. ``_rule_kernel`` is the one
implementation of every per-document rule, so no rule is a Catalyst
expression, and the optimized plan holds no ``LambdaFunction``.
Partitioning/salting + audit live in webxtract.audit.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from webxtract.audit import partition_by_url
from webxtract.config import DEFAULT_RUN_DATE
from webxtract.kernels import row_udf
from webxtract.ops.detect_type import detect
from webxtract.ops.extract import extract_pages
from webxtract.ops.fake import fake_result
from webxtract.ops.fields import with_fields
from webxtract.ops.validators import (
    RESULTS_TYPE,
    Doc,
    doc_columns,
    doc_type_enum,
    missing_fields,
    validate,
    validation_summary,
    with_parsed_dates,
)
from webxtract.schemas import (
    DOC_TYPE_INFO_TYPE,
    FAKE_RESULT_TYPE,
    INTEGRITY_SUMMARY_TYPE,
    VALIDATION_SUMMARY_TYPE,
)


def integrity(fake: tuple) -> tuple:
    """Integrity (ocr.py:296-312) of one fake result: integrity_score =
    max(0, 1 - fake confidence), valid = not fake, and the X2 summary
    (claude_integrity_analyzer.get_summary, :228-283): issues_detected[]
    of (type, confidence, findings[]) plus is_fraudulent / confidence /
    risk_level / recommendation / summary. The external vision model is
    excluded by design (SURVEY.md §2.6); the deterministic fake detector
    populates the specimen_document issue slot, the other two slots
    (photo_tampering, screen_capture) stay empty, and risk tiers map
    from the fake confidence."""
    is_fake, conf, reasons = fake[:3]
    risk = ("high" if conf >= 0.7 else "medium" if conf >= 0.4 else
            "low" if conf > 0.0 else "minimal")
    summary = (
        is_fake, conf, risk,
        [("specimen_document", conf, reasons)] if is_fake else [],
        "reject" if is_fake else "approve",
        "Document flagged: " + "; ".join(reasons) if is_fake
        else "No integrity issues detected",
    )
    return max(0.0, 1.0 - conf), not is_fake, summary


# Every per-document rule output, in run_pipeline's output order.
_RULES_TYPE = StructType([
    StructField("missing_fields", ArrayType(StringType())),
    StructField("fields_valid", BooleanType()),
    StructField("doc_type", DOC_TYPE_INFO_TYPE),
    StructField("fake_detection", FAKE_RESULT_TYPE),
    StructField("integrity_score", DoubleType()),
    StructField("integrity_valid", BooleanType()),
    StructField("doc_type_enum", StringType()),
    StructField("integrity_summary", INTEGRITY_SUMMARY_TYPE),
    StructField("validation_results", RESULTS_TYPE),
    StructField("validation_summary", VALIDATION_SUMMARY_TYPE),
])


@row_udf(_RULES_TYPE)
def _rule_kernel(text: str | None, run: int, *vals) -> tuple:  # noqa: ANN002
    """Every rule for one document: the required-field check,
    detection, fake scoring and integrity, the enum, the validator
    battery and its summary; ``vals`` are ``validators.doc_columns``."""
    d = Doc(vals[:-3], *vals[-3:], run)
    missing = missing_fields(d)
    doc_type = detect(d)
    fake = fake_result(d, text)
    score, valid, summary = integrity(fake)
    enum = doc_type_enum(doc_type[0])
    results = validate(enum, d)
    return (missing, not missing, doc_type, fake, score, valid, enum, summary,
            results, validation_summary(results))


_RUN_DATE = re.compile(r"\d{4}-\d{2}-\d{2}", re.ASCII)


def _epoch_day(run_date: str) -> int:
    """The epoch day of a strict ``YYYY-MM-DD`` date; ValueError otherwise."""
    if _RUN_DATE.fullmatch(run_date):
        try:
            return (dt.date.fromisoformat(run_date) - dt.date(1970, 1, 1)).days
        except ValueError:  # e.g. month 13
            pass
    raise ValueError(f"run_date must be a YYYY-MM-DD date, got {run_date!r}")


def with_rules(df: DataFrame, run_date: str = DEFAULT_RUN_DATE) -> DataFrame:
    """Append every per-document rule output (``_RULES_TYPE``'s fields)
    to a frame holding ``extracted_text`` and the 13 field columns, with
    one evaluation of the rule kernel per row. A ``run_date`` that is
    not a ``YYYY-MM-DD`` date raises ValueError here, before any job."""
    kernel = _rule_kernel(
        F.col("extracted_text"), F.lit(_epoch_day(run_date)), *doc_columns()
    )
    rules = F.col("__rules")
    return with_parsed_dates(df).select("*", kernel.alias("__rules")).select(
        *df.columns, *[rules[c].alias(c) for c in _RULES_TYPE.fieldNames()],
    )


def run_pipeline(pages: DataFrame, run_date: str = DEFAULT_RUN_DATE) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> full validation rows.

    The salted url-hash repartition sits between the field projection
    and the rule kernel. It buckets the output for the resume anti-join
    and downstream joins, and spreads the byte-skew of hot hosts
    (SURVEY.md §4.3.1) before the kernel, the costliest Python step,
    runs."""
    fields = with_fields(extract_pages(pages))
    n_part = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ruled = with_rules(partition_by_url(fields, n_part), run_date)
    return ruled.select(
        *fields.columns, "missing_fields", "fields_valid", "doc_type", "fake_detection",
        "integrity_score", "integrity_valid", "doc_type_enum",
        # the DocumentIntegrityResult shape (responses.py:52-56)
        F.struct(
            F.col("integrity_valid").alias("is_valid"), "fake_detection", "integrity_score",
        ).alias("document_integrity"),
        "integrity_summary", "validation_results", "validation_summary",
        # overall success (ocr.py:331-333): extraction ok AND summary not
        # FAILED AND integrity ok
        (
            ~F.col("parse_failure")
            & (F.col("validation_summary.overall_status") != F.lit("failed"))
            & F.col("integrity_valid")
        ).alias("success"),
    )
