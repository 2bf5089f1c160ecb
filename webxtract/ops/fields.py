"""Structured-field extraction (operator E6, SURVEY.md §2.2).

The reference's Claude-Vision extraction (document_extractor.py:204-314)
is non-deterministic and external; the rebuild replaces it with a
deterministic labeled-field parser over the extracted text — pure
``regexp_extract`` column expressions, zero Python.

Field cleanup replicates document_extractor.py:296-304 exactly:
newlines/tabs -> space, collapse runs of spaces, trim — applied to
address/full_name/first_name/last_name.

The required-field check (E7, document_extractor.py:190-201) is a rule
over the parsed fields and runs in the rule kernel
(``validators.missing_fields`` inside ``pipeline._rule_kernel``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webxtract.schemas import FIELD_NAMES

# Label used in the page text for each schema field.
FIELD_LABELS: dict[str, str] = {
    "first_name": "First Name",
    "last_name": "Last Name",
    "full_name": "Full Name",
    "document_number": "Document Number",
    "date_of_birth": "Date of Birth",
    "issue_date": "Issue Date",
    "expiry_date": "Expiry Date",
    "gender": "Gender",
    "address": "Address",
    "nationality": "Nationality",
    "mrz": "MRZ",
    "country_code": "Country Code",
    "document_title": "Document Title",
}

# Text fields that get the whitespace cleanup (document_extractor.py:296).
_CLEAN_FIELDS = {"address", "full_name", "first_name", "last_name"}


def clean_text_field(col: Column) -> Column:
    """document_extractor.py:299-304: CR/LF/TAB -> space, collapse runs
    of 2+ spaces, strip."""
    c = F.regexp_replace(col, r"[\n\r\t]", " ")
    c = F.regexp_replace(c, r" {2,}", " ")
    return F.trim(c)


def field_expr(text: Column, name: str) -> Column:
    """Extract one labeled field from the text; null when absent."""
    label = FIELD_LABELS[name]
    # value = rest of the line after "Label: "
    pattern = rf"(?m)^{label}: (.*)$"
    raw = F.regexp_extract(text, pattern, 1)
    val = F.nullif(raw, F.lit(""))
    if name in _CLEAN_FIELDS:
        val = clean_text_field(val)
        val = F.nullif(val, F.lit(""))
    return val


def with_fields(df: DataFrame) -> DataFrame:
    """Append the 13 field columns parsed from ``extracted_text``."""
    text = F.col("extracted_text")
    return df.select("*", *[field_expr(text, name).alias(name) for name in FIELD_NAMES])

