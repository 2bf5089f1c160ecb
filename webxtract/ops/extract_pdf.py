"""PDF page-text extraction (reference operators E2/E3,
app/services/pdf_ocr.py:68-92 native path, :14-46 forced-OCR path).

Two backends behind a capability probe, mirroring the reference's own
``is_available()`` pattern (pdf_ocr.py:94-104):

- ``fitz`` (PyMuPDF), when importable, for real PDFs: per page
  ``page.get_text().strip()``, 1-indexed page numbers;
- a deterministic synthetic backend for the sandbox/test corpus:
  payloads are ``%PDF-1.4`` + ``%%PAGE n`` marker lines; page text is
  the marker's content lines joined with "\\n" then stripped (the
  reference strips per page *before* the join, pdf_ocr.py:60).

Document text = "\\n\\n".join(non-blank page texts) — exactly the
reference's page concat (ocr.py:152, operator E5).
"""

from __future__ import annotations

try:  # capability probe — heavy native lib may be absent in the sandbox
    import fitz  # type: ignore

    HAVE_FITZ = True
except ImportError:  # pragma: no cover
    fitz = None
    HAVE_FITZ = False

PDF_MAGIC = b"%PDF-"
PAGE_MARKER = "%%PAGE "
SCAN_MARKER = "%%SCAN "


def _pages_via_fitz(payload: bytes) -> list[str]:  # pragma: no cover
    doc = fitz.open(stream=payload, filetype="pdf")
    try:
        return [page.get_text().strip() for page in doc]
    finally:
        doc.close()


def _pages_via_synthetic(payload: bytes) -> list[str] | None:
    """Parse the deterministic synthetic layout; None if not that format."""
    try:
        doc = payload.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return None
    lines = doc.split("\n")
    if not lines or not lines[0].startswith("%PDF-"):
        return None
    pages: list[list[str]] = []
    seen_marker = False
    for line in lines[1:]:
        if line.startswith(PAGE_MARKER):
            pages.append([])
            seen_marker = True
        elif line.startswith(SCAN_MARKER):
            # raster-only page content: invisible to the native text
            # layer (the synthetic analog of an image-only scan page);
            # only the forced-OCR backend can read it
            continue
        elif seen_marker:
            pages[-1].append(line)
    if not seen_marker:
        return None
    return ["\n".join(p).strip() for p in pages]


def assemble_pages(
    pages: list[str], confidence: float = 1.0
) -> tuple[str | None, list[dict]]:
    """Page texts -> (concatenated text, spans): "\\n\\n".join of
    non-blank pages (ocr.py:152, operator E5); one span per kept page,
    bbox.y carrying the 1-indexed page number."""
    spans: list[dict] = []
    kept: list[str] = []
    offset = 0
    for idx, text in enumerate(pages, start=1):
        if not text:
            continue
        start = offset
        end = start + len(text)
        offset = end + 2
        kept.append(text)
        spans.append(
            {
                "text": text,
                "confidence": confidence,
                "bbox": {
                    "x_min": float(start),
                    "y_min": float(idx),
                    "x_max": float(end),
                    "y_max": float(idx),
                },
            }
        )
    return ("\n\n".join(kept) if kept else None), spans


def native_pdf_pages(payload: bytes) -> list[str] | None:
    """Native text-layer page texts (E2), or None when unparseable."""
    pages: list[str] | None = _pages_via_synthetic(payload)
    if pages is None and HAVE_FITZ:  # pragma: no cover
        try:
            pages = _pages_via_fitz(payload)
        except Exception:
            pages = None
    return pages


def extract_pdf(payload: bytes | None) -> tuple[str | None, list[dict], int, bool, bool]:
    """bytes -> (extracted_text, spans, n_pages, parse_failure, used_ocr).

    Native-text-first policy (operator E4, ocr.py:144-150): parse the
    native text layer; when NO page has non-blank text, re-run the
    document through the forced-OCR backend (operator E3) — the
    data-dependent second pass the reference performs. One span per
    non-blank page (confidence 1.0 native / 0.8 OCR'd);
    bbox.y_min/y_max carry the 1-indexed page number.
    """
    if not payload or not payload.startswith(PDF_MAGIC):
        return None, [], 0, True, False

    pages = native_pdf_pages(payload)
    if pages is None:
        return None, [], 0, True, False

    if not any(t.strip() for t in pages):
        # E4: all-blank native -> forced OCR (ocr.py:144-150)
        from webxtract.ops import ocr_backend

        ocr_pages = ocr_backend.ocr_pdf_pages(payload)
        if ocr_pages is not None and any(t.strip() for t in ocr_pages):
            extracted, spans = assemble_pages(ocr_pages, confidence=0.8)
            return extracted, spans, len(ocr_pages), extracted is None, True

    extracted, spans = assemble_pages(pages)
    return extracted, spans, len(pages), extracted is None, False
