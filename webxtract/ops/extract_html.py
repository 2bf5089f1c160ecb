"""HTML main-content extraction (the web-text analog of reference operator
E1, app/services/image_ocr.py:22-80: binary -> spans -> deterministically
joined text).

Pure-stdlib (html.parser) text-density + link-density boilerplate
classifier in the spirit of Readability/trafilatura:

- block-level elements (p, h1-h6, li, ...) become candidate spans;
- anything inside nav/header/footer/aside/script/style/form is boilerplate;
- blocks whose link-character ratio >= MAX_LINK_DENSITY are link farms;
- non-heading blocks shorter than MIN_BLOCK_CHARS are junk;
- surviving block texts are whitespace-normalized (runs of whitespace ->
  single space, stripped — matching the reference's field cleanup,
  document_extractor.py:296-304) and joined with "\\n\\n" (the reference's
  page-concat separator, ocr.py:152). That join defines the
  byte-identical per-url text invariant (BASELINE.json).

Span confidence = 1 - link_density (the OCR-confidence analog); bbox
carries (char_start, block_ordinal, char_end, block_ordinal) — the DOM
position proxy for EasyOCR's pixel boxes (image_ocr.py:58-69).

This module is deliberately free of any Spark import: it is the
per-page worker body invoked from webxtract.ops.extract's one
``mapInArrow`` kernel (``kernels.doc_rows``: ``rows_of`` is built once
per task, like the reference's lazy reader singleton,
image_ocr.py:13-19).
"""

from __future__ import annotations

from html.parser import HTMLParser

MIN_BLOCK_CHARS = 8        # drop non-heading blocks shorter than this
MAX_LINK_DENSITY = 0.5     # drop blocks whose link-char ratio >= this

BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th blockquote pre article section div".split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
BOILER_TAGS = frozenset(
    "nav header footer aside script style noscript form button select "
    "option head title svg iframe".split()
)
VOID_TAGS = frozenset("br hr img meta link input area base col embed source wbr".split())


def _norm(s: str) -> str:
    """Collapse all whitespace runs to single spaces and strip."""
    return " ".join(s.split())


class _BlockCollector(HTMLParser):
    """Streams the document once, emitting (text, link_chars, total_chars,
    is_heading) candidate blocks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int, bool]] = []
        self._boiler_depth = 0
        self._block_depth = 0
        self._link_depth = 0
        self._heading = False
        self._pieces: list[tuple[str, bool]] = []

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        if not self._pieces:
            return
        total = 0
        link = 0
        raw: list[str] = []
        for text, in_link in self._pieces:
            t = _norm(text)
            if not t:
                continue
            raw.append(text)
            total += len(t)
            if in_link:
                link += len(t)
        self._pieces = []
        if total == 0:
            return
        self.blocks.append((_norm("".join(raw)), link, total, self._heading))

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in VOID_TAGS:
            return
        if tag in BOILER_TAGS:
            self._flush()
            self._boiler_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._block_depth += 1
            self._heading = tag in HEADING_TAGS

    def handle_endtag(self, tag: str) -> None:
        if tag in BOILER_TAGS:
            self._boiler_depth = max(0, self._boiler_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._block_depth = max(0, self._block_depth - 1)
            self._heading = False

    def handle_data(self, data: str) -> None:
        if self._boiler_depth == 0 and self._block_depth > 0 and data:
            self._pieces.append((data, self._link_depth > 0))

    def close(self) -> None:  # flush trailing block
        super().close()
        self._flush()


def extract_html(payload: bytes | None) -> tuple[str | None, list[dict], bool]:
    """bytes -> (extracted_text, spans, parse_failure).

    spans: [{"text", "confidence", "bbox": {x_min,y_min,x_max,y_max}}]
    parse_failure is True when nothing survives classification (including
    undecodable/binary junk) — the quarantine path, not an exception.
    """
    if not payload:
        return None, [], True
    try:
        doc = payload.decode("utf-8", errors="replace")
        parser = _BlockCollector()
        parser.feed(doc)
        parser.close()
    except Exception:
        return None, [], True

    kept: list[tuple[str, float]] = []
    for text, link, total, heading in parser.blocks:
        ratio = (link / total) if total else 1.0
        if ratio >= MAX_LINK_DENSITY:
            continue
        if not heading and total < MIN_BLOCK_CHARS:
            continue
        kept.append((text, ratio))

    if not kept:
        return None, [], True

    spans: list[dict] = []
    offset = 0
    for ordinal, (text, ratio) in enumerate(kept):
        start = offset
        end = start + len(text)
        offset = end + 2  # the "\n\n" separator
        spans.append(
            {
                "text": text,
                "confidence": round(1.0 - ratio, 4),
                "bbox": {
                    "x_min": float(start),
                    "y_min": float(ordinal),
                    "x_max": float(end),
                    "y_max": float(ordinal),
                },
            }
        )
    extracted = "\n\n".join(t for t, _ in kept)
    return extracted, spans, False


def html_metadata_exprs(html):  # noqa: ANN001, ANN201
    """Head-metadata extraction as pure JVM-side expressions: title,
    meta description, canonical link, html lang attribute, anchor
    count. The structured-metadata sidecar every crawl pipeline wants
    next to main-content text (dedup keys, canonical-url clustering,
    link-density priors) — no UDF, no shuffle, scales as a projection.
    NULL/garbage html degrades to empty strings, never an error."""
    from pyspark.sql import functions as F

    s = F.coalesce(html.cast("string"), F.lit(""))
    return {
        "title": F.regexp_extract(s, r"<title>([^<]*)</title>", 1),
        "meta_description": F.regexp_extract(
            s, r'<meta name="description" content="([^"]*)"', 1
        ),
        "canonical_url": F.regexp_extract(
            s, r'<link rel="canonical" href="([^"]*)"', 1
        ),
        "html_lang": F.regexp_extract(s, r'<html[^>]*\blang="([^"]*)"', 1),
        "n_links": F.regexp_count(s, F.lit("<a ")).cast("int"),
    }


def structured_metadata_exprs(html):  # noqa: ANN001, ANN201
    """Social/semantic structured-metadata sidecar: OpenGraph
    properties (og:title / og:description / og:image / og:type),
    article publication time (the ``article:published_time`` OG tag,
    the dominant publication-date carrier on the modern web), and
    JSON-LD presence — the count of ``application/ld+json`` script
    blocks plus the first block's ``@type``. These drive dedup keys
    (og:image/url clustering), recency weighting (published_time) and
    page-kind routing (Article vs Product vs ...) in a crawl tier.

    Pure JVM regex expressions over the raw bytes — no DOM build, no
    UDF, no shuffle; parsing 10^12 pages is one map pass. NULL/garbage
    html degrades to empty strings / 0 counts, never an error. Empty
    extractions stay '' (not NULL) to match html_metadata_exprs'
    contract."""
    from pyspark.sql import functions as F

    s = F.coalesce(html.cast("string"), F.lit(""))

    def og(prop: str):  # noqa: ANN202
        return F.regexp_extract(
            s,
            r'<meta property="og:' + prop + r'" content="([^"]*)"',
            1,
        )

    ld_re = (
        r'(?s)<script type="application/ld\+json">(.*?)</script>'
    )
    first_ld = F.regexp_extract(s, ld_re, 1)
    return {
        "og_title": og("title"),
        "og_description": og("description"),
        "og_image": og("image"),
        "og_type": og("type"),
        "published_time": F.regexp_extract(
            s,
            r'<meta property="article:published_time" content="([^"]*)"',
            1,
        ),
        "n_jsonld": F.regexp_count(s, F.lit(ld_re)).cast("int"),
        "jsonld_type": F.regexp_extract(
            first_ld, r'"@type"\s*:\s*"([^"]*)"', 1
        ),
    }
