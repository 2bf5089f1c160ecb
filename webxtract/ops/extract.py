"""The extraction stage: pages(url, warc_ts, html, text, lang) ->
EXTRACTED_SCHEMA rows.

Spark plan shape (SURVEY.md §3.1 trace / §4.4): one column-pruned scan
of exactly (url, warc_ts, lang, html, text) feeding ONE ``MapInArrow``
node (``kernels.doc_rows``, named ``_extract_rows``) and one
projection. No Filter, no Union, no Exchange: a narrow map that scales
linearly with the input splits. ``url``, ``warc_ts`` and ``lang`` are
kept columns, carried through as Arrow, so any timestamp and any bytes
in a string come back exactly.

The kernel picks each row's path once, the way the reference picks a
request's path once (magic bytes -> PDF or image, else HTTP 400,
ocr.py:250-273):

1. non-blank pre-extracted ``text`` (Spark ``trim``: only ``' '`` is
   blank) is the document, ``source_kind`` text. It crosses the kernel as
   raw bytes and the projection after it builds its text and span, so
   invalid UTF-8 in a string column (``warc_to_pages``) is never decoded;
2. no ``html`` payload at all is quarantined as a parse failure
   (``source_kind`` none — the HTTP-400 analog, ocr.py:73-78, a row
   flag, not an exception);
3. ``%PDF-`` magic goes to ``extract_pdf`` (native text first, forced
   OCR when no page has text: operators E2-E4, ocr.py:144-150);
4. anything else goes to ``extract_html``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField

from webxtract.kernels import doc_rows
from webxtract.ops.extract_html import extract_html
from webxtract.ops.extract_pdf import PDF_MAGIC, extract_pdf
from webxtract.schemas import EXTRACTED_SCHEMA

_META_COLS = ["url", "warc_ts", "lang"]
# EXTRACTED_SCHEMA's result fields plus ``native``: the raw bytes of a
# native-text row.
_RESULT_FIELDS = [
    *EXTRACTED_SCHEMA.fields[len(_META_COLS) :], StructField("native", BinaryType())
]
_RESULT_COLS = [f.name for f in _RESULT_FIELDS]


def _extract(html: bytes | None, text: bytes | None) -> tuple:
    """One page -> the ``_RESULT_COLS`` values, dispatched as above."""
    if text is not None and text.strip(b" "):
        return None, None, 1, 1.0, "text", False, len(html) if html else 0, text
    if html is None:
        return None, None, 0, 0.0, "none", True, 0, None
    if html.startswith(PDF_MAGIC):
        extracted, spans, n_pages, failed, used_ocr = extract_pdf(html)
        kind = "pdf_ocr" if used_ocr else "pdf"
    else:
        extracted, spans, failed = extract_html(html)
        n_pages, kind = (0 if failed else 1), "html"
    avg_conf = sum(s["confidence"] for s in spans) / len(spans) if spans else 0.0
    return extracted, spans, n_pages, avg_conf, kind, failed, len(html), None


def _extract_rows():  # noqa: ANN202
    """``rows_of`` for ``doc_rows``, built once per task (where the
    reference builds its lazy reader singleton, image_ocr.py:13-19):
    one page -> its one result row."""
    return lambda html, text: [_extract(html, text)]


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages -> extracted (EXTRACTED_SCHEMA): one scan, one kernel, no shuffle."""
    text = F.col("text").cast("binary").alias("text")
    out = doc_rows(pages, _META_COLS, ["html", text], _RESULT_FIELDS, _extract_rows)
    native = F.col("native").cast("string")  # the input's bytes, unchanged
    zero = F.lit(0.0)
    bbox = F.struct(
        zero.alias("x_min"), zero.alias("y_min"),
        F.length(native).cast("double").alias("x_max"), zero.alias("y_max"),
    )
    span = F.struct(native.alias("text"), F.lit(1.0).alias("confidence"), bbox.alias("bbox"))
    return out.select(
        *_META_COLS,
        F.coalesce(native, "extracted_text").alias("extracted_text"),
        F.when(native.isNotNull(), F.array(span)).otherwise(F.col("spans")).alias("spans"),
        *_RESULT_COLS[2:-1],
    )
