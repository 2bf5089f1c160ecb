"""End-to-end pipeline composition (the columnar form of the reference's
flagship request lifecycle, POST /ocr/extract/image?validate=true —
SURVEY.md §3.3):

    map side:    parquet scan -> extraction kernel (mapInArrow)
                 -> 13 fields + missing_fields (one Catalyst projection)
    exchange:    salted url-hash repartition (audit.partition_by_url)
    reduce side: three parsed dates (Catalyst) -> ONE rule kernel (Arrow
                 UDF: type detection, fake scoring, doc_type_enum,
                 validator battery) -> integrity, summary, success
                 (Catalyst projection)

The physical plan Spark builds has two stages around ONE Exchange. Map
side: the parquet scan, the extraction kernel's one ``MapInArrow`` node
(``kernels.doc_rows``, named ``_extract_rows``), and the field +
missing-field projection.
Reduce side: a projection parsing the three dates, then a
single ``ArrowEvalPython`` node running ``_rule_kernel`` (it reuses the
extraction's Python workers), then the integrity/summary/success
projection. The Exchange only partitions: it carries the extracted text
and fields, and no rule result is computed before it. No rule is a
Catalyst lambda, so the optimized plan holds no ``LambdaFunction``.
Partitioning/salting + audit live in webxtract.audit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from webxtract.audit import partition_by_url
from webxtract.config import DEFAULT_MINIMUM_AGE, DEFAULT_RUN_DATE
from webxtract.kernels import row_udf
from webxtract.ops.detect_type import detect
from webxtract.ops.extract import extract_pages
from webxtract.ops.fake import fake_result
from webxtract.ops.fields import missing_fields_expr, with_fields
from webxtract.ops.validators import (
    RESULTS_TYPE,
    Doc,
    doc_columns,
    doc_type_enum,
    validate,
    validation_summary_expr,
    with_parsed_dates,
)
from webxtract.schemas import DOC_TYPE_INFO_TYPE, FAKE_RESULT_TYPE


def integrity_summary_expr(fake: Column) -> Column:
    """X2 summary shape (claude_integrity_analyzer.get_summary,
    :228-283): issues_detected[] of (type, confidence, findings[]) plus
    is_fraudulent / confidence / risk_level / recommendation / summary.
    The external vision model is excluded by design (SURVEY.md §2.6);
    the deterministic fake detector populates the specimen_document
    issue slot, the other two slots (photo_tampering, screen_capture)
    stay empty, and risk tiers map from the fake confidence."""
    conf = fake["confidence"]
    issue = F.struct(
        F.lit("specimen_document").alias("type"),
        conf.alias("confidence"),
        fake["reasons"].alias("findings"),
    )
    issues = F.when(fake["is_fake"], F.array(issue)).otherwise(
        F.array().cast(
            "array<struct<type:string,confidence:double,findings:array<string>>>"
        )
    )
    risk = (
        F.when(conf >= 0.7, "high")
        .when(conf >= 0.4, "medium")
        .when(conf > 0.0, "low")
        .otherwise("minimal")
    )
    return F.struct(
        fake["is_fake"].alias("is_fraudulent"),
        conf.alias("confidence"),
        risk.alias("risk_level"),
        issues.alias("issues_detected"),
        F.when(fake["is_fake"], "reject").otherwise("approve").alias("recommendation"),
        F.when(
            fake["is_fake"],
            F.concat(
                F.lit("Document flagged: "), F.array_join(fake["reasons"], "; ")
            ),
        )
        .otherwise(F.lit("No integrity issues detected"))
        .alias("summary"),
    )



_RULES_TYPE = StructType([
    StructField("doc_type", DOC_TYPE_INFO_TYPE),
    StructField("fake_detection", FAKE_RESULT_TYPE),
    StructField("doc_type_enum", StringType()),
    StructField("validation_results", RESULTS_TYPE),
])


@row_udf(_RULES_TYPE)
def _rule_kernel(text: str | None, run: int, minimum_age: int, *vals) -> tuple:  # noqa: ANN002
    """Every rule for one document: detection, fake scoring, the enum and
    the validator battery; ``vals`` are ``validators.doc_columns``."""
    d = Doc(vals[:-3], *vals[-3:], run, minimum_age)
    doc_type = detect(d)
    enum = doc_type_enum(doc_type[0])
    return doc_type, fake_result(d, text), enum, validate(enum, d)


def with_rules(
    df: DataFrame,
    run_date: str = DEFAULT_RUN_DATE,
    minimum_age: int = DEFAULT_MINIMUM_AGE,
) -> DataFrame:
    """Append ``doc_type``, ``fake_detection``, ``doc_type_enum`` and
    ``validation_results`` to a frame holding ``extracted_text`` and the
    13 field columns, with one evaluation of the rule kernel per row."""
    kernel = _rule_kernel(
        F.col("extracted_text"), F.unix_date(F.to_date(F.lit(run_date))),
        F.lit(minimum_age), *doc_columns(),
    )
    rules = F.col("__rules")
    return with_parsed_dates(df).select("*", kernel.alias("__rules")).select(
        *df.columns,
        *[rules[c].alias(c) for c in ("doc_type", "fake_detection", "doc_type_enum")],
        # never NULL: keeps the column non-nullable, as the summary expects
        F.coalesce(rules["validation_results"], F.array().cast(RESULTS_TYPE))
        .alias("validation_results"),
    )


def run_pipeline(
    pages: DataFrame,
    run_date: str = DEFAULT_RUN_DATE,
    minimum_age: int = DEFAULT_MINIMUM_AGE,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> full validation rows.

    The salted url-hash repartition sits between the field projection
    and the rule kernel. It buckets the output for the resume anti-join
    and downstream joins, and spreads the byte-skew of hot hosts
    (SURVEY.md §4.3.1) before the kernel, the costliest Python step,
    runs."""
    missing = missing_fields_expr()
    step1 = with_fields(extract_pages(pages)).select(
        "*",
        missing.alias("missing_fields"),
        (F.size(missing) == 0).alias("fields_valid"),
    )
    n_part = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    ruled = with_rules(partition_by_url(step1, n_part), run_date, minimum_age)

    # Integrity (ocr.py:296-312): integrity_score = max(0, 1 -
    # fake_confidence); valid = not fake. The full DocumentIntegrityResult
    # shape (responses.py:52-56) and the X2 summary distillation
    # (claude_integrity_analyzer.py:228-283 — 3 issue structs + overall
    # assessment) are emitted with the deterministic fake detector
    # standing in for the excluded external Claude stage.
    fake = F.col("fake_detection")
    step2 = ruled.select(
        "*",
        F.greatest(F.lit(0.0), F.lit(1.0) - fake["confidence"]).alias("integrity_score"),
        (~fake["is_fake"]).alias("integrity_valid"),
    )
    step3 = step2.select(
        *step1.columns, "doc_type", "fake_detection", "integrity_score",
        "integrity_valid", "doc_type_enum",
        F.struct(
            F.col("integrity_valid").alias("is_valid"),
            fake.alias("fake_detection"),
            F.col("integrity_score").alias("integrity_score"),
        ).alias("document_integrity"),
        integrity_summary_expr(fake).alias("integrity_summary"),
        "validation_results",
        validation_summary_expr(F.col("validation_results")).alias("validation_summary"),
    )

    # Overall success (ocr.py:331-333): extraction ok AND summary not
    # FAILED AND integrity ok.
    return step3.select(
        "*",
        (
            ~F.col("parse_failure")
            & (F.col("validation_summary.overall_status") != F.lit("failed"))
            & F.col("integrity_valid")
        ).alias("success"),
    )
