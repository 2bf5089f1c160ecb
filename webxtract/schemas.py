"""Declared StructTypes for every table/column family in the engine.

Mirrors the reference's Pydantic models (SURVEY.md §1.4):
- pages:      BASELINE.json input_hint
- spans:      app/models/responses.py:6-16 (TextBlock/BoundingBox)
- fields:     app/services/document_extractor.py:217-231 (13 nullable strings)
- type info:  app/models/document_types.py:53-61
- fake:       app/models/responses.py:44-56
- validation: app/models/responses.py:162-180
- integrity:  app/models/responses.py:52-56, claude_integrity_analyzer.py:228-283
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------- input

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------- spans

BBOX_TYPE = StructType(
    [
        StructField("x_min", DoubleType(), True),
        StructField("y_min", DoubleType(), True),
        StructField("x_max", DoubleType(), True),
        StructField("y_max", DoubleType(), True),
    ]
)

SPAN_TYPE = StructType(
    [
        StructField("text", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("bbox", BBOX_TYPE, True),
    ]
)

SPANS_TYPE = ArrayType(SPAN_TYPE)

# Output of the extraction stage (per url). ``url`` is nullable: the
# kernel passes the input's url through, and a parquet scan's is.
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("spans", SPANS_TYPE, True),
        StructField("n_pages", IntegerType(), True),
        StructField("avg_confidence", DoubleType(), True),
        StructField("source_kind", StringType(), True),  # text|html|pdf|none
        StructField("parse_failure", BooleanType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

# ---------------------------------------------------------------- fields

# 13-field extracted-record schema, all nullable strings
# (document_extractor.py:217-231).
FIELD_NAMES = [
    "first_name",
    "last_name",
    "full_name",
    "document_number",
    "date_of_birth",
    "issue_date",
    "expiry_date",
    "gender",
    "address",
    "nationality",
    "mrz",
    "country_code",
    "document_title",
]

# Required subset (document_extractor.py:10).
REQUIRED_FIELDS = [
    "first_name",
    "last_name",
    "document_number",
    "date_of_birth",
    "expiry_date",
]

# ---------------------------------------------------------------- type info

DOC_TYPE_INFO_TYPE = StructType(
    [
        StructField("document_type", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("country", StringType(), True),
        StructField("state_province", StringType(), True),
        StructField("document_name", StringType(), True),
        StructField("detected_features", ArrayType(StringType()), True),
    ]
)

# ---------------------------------------------------------------- fake

FAKE_RESULT_TYPE = StructType(
    [
        StructField("is_fake", BooleanType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("reasons", ArrayType(StringType()), True),
        # the fixed list of the six check names
        StructField("checks_performed", ArrayType(StringType(), False), False),
    ]
)

# ---------------------------------------------------------------- validation

# One validator result; the battery's return element type and the
# empty-array cast of validation_results.
VALIDATOR_RESULT_TYPE = StructType(
    [
        StructField("validator_name", StringType(), True),
        StructField("status", StringType(), True),  # passed|failed|warning|skipped
        StructField("message", StringType(), True),
        StructField("details", MapType(StringType(), StringType()), True),
    ]
)

# V-agg summary of one document's results (validation_service.py:390-428).
VALIDATION_SUMMARY_TYPE = StructType(
    [
        StructField("overall_status", StringType(), True),
        StructField("validation_score", DoubleType(), True),
        StructField("total_checks", IntegerType(), True),
        StructField("passed_checks", IntegerType(), True),
        StructField("failed_checks", IntegerType(), True),
        StructField("warning_checks", IntegerType(), True),
        StructField("skipped_checks", IntegerType(), True),
    ]
)

# ---------------------------------------------------------------- integrity

# X2 summary shape (claude_integrity_analyzer.get_summary, :228-283).
INTEGRITY_SUMMARY_TYPE = StructType(
    [
        StructField("is_fraudulent", BooleanType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("risk_level", StringType(), True),  # high|medium|low|minimal
        StructField(
            "issues_detected",
            ArrayType(
                StructType(
                    [
                        StructField("type", StringType(), True),
                        StructField("confidence", DoubleType(), True),
                        StructField("findings", ArrayType(StringType()), True),
                    ]
                )
            ),
            True,
        ),
        StructField("recommendation", StringType(), True),  # reject|approve
        StructField("summary", StringType(), True),
    ]
)

# ---------------------------------------------------------------- audit

# Names, order and types of the audit table's columns (audit.audit_rows).
# The written parquet matches it in (name, type) only: a parquet write
# marks every column nullable, so the non-null flags document the
# contract (every row has a run and a partition) rather than bind it.
AUDIT_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("url_count", LongType(), True),
        StructField("bytes_in", LongType(), True),
        StructField("parse_failures", LongType(), True),
        StructField("wall_ms", DoubleType(), True),
    ]
)
