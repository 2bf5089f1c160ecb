"""Extraction-stage tests: the byte-identical per-url text invariant
(BASELINE.json) plus span/structure checks, end-to-end through Spark."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from webxtract.ops.assemble import page_concat_expr
from webxtract.ops.extract import extract_pages
from webxtract.ops.extract_html import extract_html


@pytest.fixture(scope="module")
def extracted(spark, corpus):
    pages_path, expected = corpus
    df = extract_pages(spark.read.parquet(pages_path))
    got = df.toPandas().set_index("url").sort_index()
    exp = expected.set_index("url").sort_index()
    assert len(got) == len(exp)
    return got, exp


def test_byte_identical_text_per_url(extracted):
    got, exp = extracted
    mismatches = []
    for url in exp.index:
        g = got.loc[url, "extracted_text"]
        e = exp.loc[url, "extracted_text"]
        if (g if pd.notna(g) else None) != (e if pd.notna(e) else None):
            mismatches.append(url)
    assert mismatches == [], f"{len(mismatches)} urls with non-identical text"


def test_source_kind_and_failures(extracted):
    got, exp = extracted
    assert (got["source_kind"] == exp["source_kind"]).all()
    assert (got["parse_failure"] == exp["parse_failure"]).all()


def test_spans_reassemble_to_text(extracted):
    """Spans joined with the page separator must reproduce extracted_text,
    and bbox char offsets must index into it."""
    got, _ = extracted
    for url, row in got.iterrows():
        if row["parse_failure"] or row["spans"] is None:
            continue
        spans = list(row["spans"])
        assert "\n\n".join(s["text"] for s in spans) == row["extracted_text"]
        for s in spans:
            lo, hi = int(s["bbox"]["x_min"]), int(s["bbox"]["x_max"])
            assert row["extracted_text"][lo:hi] == s["text"]
            assert 0.0 <= s["confidence"] <= 1.0


def test_boilerplate_dropped():
    html = (
        b"<html><body><nav><a href='/a'>one two three four</a></nav>"
        b"<article><h1>Title Here</h1><p>the quick brown fox jumps over the dog</p></article>"
        b"<p>ok</p>"
        b"<div><a href='/x'>link only farm text</a></div>"
        b"<footer><p>copyright words and more words</p></footer></body></html>"
    )
    text, spans, failed = extract_html(html)
    assert not failed
    assert text == "Title Here\n\nthe quick brown fox jumps over the dog"


def test_entity_unescape():
    text, _, _ = extract_html(
        b"<p>Tom &amp; Jerry &lt;&lt;MRZ&gt;&gt; fields here</p>"
    )
    assert text == "Tom & Jerry <<MRZ>> fields here"


def test_assembly_exprs_match_udf(spark, extracted):
    """The expression-side page concat (E5) agrees with the UDF."""
    got, _ = extracted
    ok_rows = got[~got["parse_failure"]].reset_index()
    sdf = spark.createDataFrame(ok_rows[["url", "extracted_text", "spans"]])
    res = (
        sdf.select(
            "url",
            "extracted_text",
            "spans",
            page_concat_expr(F.transform("spans", lambda s: s["text"])).alias(
                "nn_joined"
            ),
        )
        .toPandas()
        .set_index("url")
    )
    for url, row in res.iterrows():
        assert row["nn_joined"] == row["extracted_text"]


def test_no_shuffle_in_extraction_plan(spark, corpus):
    """The extraction stage stays one narrow map: no Exchange, and every
    page takes its path inside one kernel, so the plan scans the input
    once and holds one MapInArrow, with no Filter/Union split."""
    import contextlib
    import io
    import re

    pages_path, _ = corpus
    df = extract_pages(spark.read.parquet(pages_path))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    def nodes(name: str) -> int:
        return len(set(re.findall(rf"\((\d+)\) {name}", plan)))

    assert "Exchange" not in plan
    assert (nodes("Scan parquet"), nodes("MapInArrow")) == (1, 1)
    assert nodes("Union") == 0 and nodes("Filter") == 0


_EDGE_PDF = b"%PDF-1.4\n%%PAGE 1\npdf text"
_EDGE_SCAN = b"%PDF-1.4\n%%PAGE 1\n%%SCAN scanned words"
_EDGE_HTML = b"<html><body><p>spaces only text falls through to html</p></body></html>"

# url -> (html, text, (source_kind, parse_failure, extracted_text,
#          n_pages, avg_confidence, n_bytes, [(span text, bbox.x_max)] or None))
_EDGE_ROWS = {
    "spaces": (_EDGE_HTML, "   ", (
        "html", False, "spaces only text falls through to html", 1, 1.0, 71,
        [("spaces only text falls through to html", 38.0)])),
    "spaces_scan": (_EDGE_SCAN, "  ", (
        "pdf_ocr", False, "scanned words", 1, 0.8, 38, [("scanned words", 13.0)])),
    "spaces_only": (None, "  ", ("none", True, None, 0, 0.0, 0, None)),
    "empty_text": (None, "", ("none", True, None, 0, 0.0, 0, None)),
    "tab": (None, "\t", ("text", False, "\t", 1, 1.0, 0, [("\t", 1.0)])),
    "nbsp": (None, "\u00a0", ("text", False, "\u00a0", 1, 1.0, 0, [("\u00a0", 1.0)])),
    "newline": (None, " \n ", ("text", False, " \n ", 1, 1.0, 0, [(" \n ", 3.0)])),
    "text_over_pdf": (_EDGE_PDF, "native wins", (
        "text", False, "native wins", 1, 1.0, 26, [("native wins", 11.0)])),
    "empty_html": (b"", None, ("html", True, None, 0, 0.0, 0, [])),
    "bare_pdf": (b"%PDF-", None, ("pdf", True, None, 0, 0.0, 5, [])),
    "nothing": (None, None, ("none", True, None, 0, 0.0, 0, None)),
    "astral": (None, "\U0001d518\U0001d52b\U0001d526 x", (
        "text", False, "\U0001d518\U0001d52b\U0001d526 x", 1, 1.0, 0,
        [("\U0001d518\U0001d52b\U0001d526 x", 5.0)])),
}


def test_extraction_edge_rows(spark):
    """Per-row dispatch on the edges: Spark trim semantics (only ' ' is
    blank), text over PDF magic, empty and bare-magic payloads, no
    payload at all, and bbox.x_max counted in code points."""
    df = spark.createDataFrame(
        [(url, None, html, text, "en") for url, (html, text, _) in _EDGE_ROWS.items()],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {}
    for r in extract_pages(df).collect():
        spans = None if r["spans"] is None else [
            (s["text"], s["bbox"]["x_max"]) for s in r["spans"]
        ]
        got[r["url"]] = (
            r["source_kind"], r["parse_failure"], r["extracted_text"],
            r["n_pages"], r["avg_confidence"], r["n_bytes"], spans,
        )
    assert got == {url: want for url, (_, _, want) in _EDGE_ROWS.items()}


def test_fuzz_garbage_payloads_never_kill_tasks(spark):
    """100-TB ingestion reality: random bytes, truncated UTF-8, binary
    junk behind HTML/PDF magic, empty and NULL payloads, invalid UTF-8
    in the text column. Every row must come back (quarantined, not
    raised) and valid documents in the same batch must still extract."""
    import random

    from webxtract.ops.extract import extract_pages

    rnd = random.Random(123)
    rows = []
    for i in range(200):
        kind = i % 8
        if kind == 0:
            payload = bytes(rnd.getrandbits(8) for _ in range(rnd.randint(0, 500)))
        elif kind == 1:
            payload = b"%PDF-" + bytes(rnd.getrandbits(8) for _ in range(300))
        elif kind == 2:
            payload = b"<html>" + bytes(rnd.getrandbits(8) for _ in range(200))
        elif kind == 3:
            payload = ("<div>" * rnd.randint(1, 400)).encode()  # valid, empty
        elif kind == 4:
            payload = b"\xff\xfe" + "text".encode("utf-16-le") * 50
        elif kind == 5:
            payload = b""
        elif kind == 6:
            payload = None
        else:
            payload = b"%PDF-1.4\n%%PAGE 1\n" + bytes([0xC3])  # truncated UTF-8
        rows.append((f"u{i}", None, payload, None, "en"))
    rows.append(
        ("good", None, b"<html><body><p>real extractable content here</p></body></html>", None, "en")
    )
    rows.append(("native", None, None, None, "en"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    # a string column can hold invalid UTF-8 (warc_to_pages casts a
    # text/plain payload in any charset but latin-1 to string): it is
    # still native text, and comes back byte-identical
    df = df.withColumn(
        "text", F.when(F.col("url") == "native", F.lit(b"caf\xe9 ok").cast("string"))
    )
    out = extract_pages(df).collect()
    assert len(out) == len(rows)  # nothing dropped, no task died
    by_url = {r["url"]: r for r in out}
    assert by_url["good"]["parse_failure"] is False
    assert "real extractable content" in by_url["good"]["extracted_text"]
    native = extract_pages(df).where(F.col("url") == "native").select(
        "source_kind", "parse_failure", "n_bytes",
        F.hex(F.col("extracted_text").cast("binary")).alias("text_hex"),
        F.hex(F.col("spans")[0]["text"].cast("binary")).alias("span_hex"),
        F.col("spans")[0]["bbox"]["x_max"].alias("x_max"),
        F.size("spans").alias("n_spans"),
    )
    assert native.collect()[0].asDict() == {
        "source_kind": "text", "parse_failure": False, "n_bytes": 0,
        "text_hex": "636166E9206F6B", "span_hex": "636166E9206F6B",
        "x_max": 5.0, "n_spans": 1,
    }
    garbage = [r for r in out if r["url"] not in ("good", "native")]
    assert all(r["parse_failure"] for r in garbage)
    assert all(r["extracted_text"] is None for r in garbage)


def test_ocr_fallback_and_scan_marker(spark):
    """E3/E4: scan-only pages are invisible to the native text layer and
    recovered by the forced-OCR second pass; mixed pages stay native."""
    from webxtract.ops.extract import extract_pages

    scan_pdf = b"%PDF-1.4\n%%PAGE 1\n%%SCAN hello scanned world\n%%PAGE 2\n%%SCAN second page"
    mixed_pdf = b"%PDF-1.4\n%%PAGE 1\nnative text here\n%%SCAN raster junk"
    blank_pdf = b"%PDF-1.4\n%%PAGE 1\n   "
    rows = [
        ("s1", None, scan_pdf, None, "en"),
        ("s2", None, mixed_pdf, None, "en"),
        ("s3", None, blank_pdf, None, "en"),
    ]
    df = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r["url"]: r for r in extract_pages(df).collect()}
    assert got["s1"]["extracted_text"] == "hello scanned world\n\nsecond page"
    assert got["s1"]["source_kind"] == "pdf_ocr"
    assert got["s1"]["parse_failure"] is False
    assert got["s1"]["avg_confidence"] == 0.8  # OCR-confidence analog
    # native text wins; raster content stays invisible on the native path
    assert got["s2"]["extracted_text"] == "native text here"
    assert got["s2"]["source_kind"] == "pdf"
    # genuinely empty PDFs still quarantine
    assert got["s3"]["parse_failure"] is True


def test_pdf_page_explode_shape(spark):
    """S3: one output row per page, deterministic render stub bytes."""
    from webxtract.ops.rasterize import JPEG_MAGIC, PNG_MAGIC, explode_pdf_pages

    pdf = b"%PDF-1.4\n%%PAGE 1\nalpha\n%%PAGE 2\nbeta\n%%PAGE 3\n   "
    df = spark.createDataFrame(
        [("u1", pdf), ("u2", b"not a pdf"), ("u3", None)],
        schema="url string, html binary",
    )
    rows = explode_pdf_pages(df, scale=2.0, fmt="png").collect()
    assert [(r["url"], r["page_number"]) for r in rows] == [
        ("u1", 1), ("u1", 2), ("u1", 3)
    ]
    by_page = {r["page_number"]: r for r in rows}
    assert by_page[1]["page_text"] == "alpha"
    assert by_page[3]["page_text"] == ""  # blank page still renders
    assert all(r["n_pages"] == 3 for r in rows)
    assert all(bytes(r["image"]).startswith(PNG_MAGIC) for r in rows)
    # per-page images are distinct (digest binds page number)
    assert len({bytes(r["image"]) for r in rows}) == 3
    assert by_page[1]["width"] == 1224 and by_page[1]["height"] == 1584

    jpeg = explode_pdf_pages(df, scale=1.0, fmt="jpeg").collect()
    assert all(bytes(r["image"]).startswith(JPEG_MAGIC) for r in jpeg)
    assert jpeg[0]["width"] == 612


def test_media_normalize(spark):
    """S2: TIFF/BMP convert to PNG (stub), PNG/JPEG pass through, junk
    gets octet-stream."""
    from webxtract.multimodal import MAGIC, normalize_media

    rows = [
        ("bmp", b"BMcontent"),
        ("tiff", b"II*\x00tiffdata"),
        ("png", MAGIC["png"] + b"pngdata"),
        ("jpeg", b"\xff\xd8\xff\xe0jpegdata"),
        ("junk", b"zzzz"),
    ]
    df = spark.createDataFrame(rows, schema="url string, payload binary")
    got = {r["url"]: r for r in normalize_media(df).collect()}
    assert got["bmp"]["media_type"] == "image/png"
    assert bytes(got["bmp"]["payload"]).startswith(MAGIC["png"])
    assert got["tiff"]["media_type"] == "image/png"
    assert bytes(got["tiff"]["payload"]).startswith(MAGIC["png"])
    assert got["png"]["media_type"] == "image/png"
    assert bytes(got["png"]["payload"]) == MAGIC["png"] + b"pngdata"  # untouched
    assert got["jpeg"]["media_type"] == "image/jpeg"
    assert got["junk"]["media_type"] == "application/octet-stream"


def test_structured_metadata_garbage_and_null_safe(spark):
    """NULL html, non-UTF8 bytes, and pages with no OG/JSON-LD all
    degrade to ''/0 — never NULL, never an error; a real OG+two-block
    JSON-LD page parses every field."""
    from pyspark.sql import functions as F

    from webxtract.ops.extract_html import structured_metadata_exprs

    good = (
        '<html><head><meta property="og:title" content="T">'
        '<meta property="og:image" content="https://i.example/x.png">'
        '<meta property="article:published_time" content="2026-02-01T00:00:00Z">'
        '<script type="application/ld+json">{"@type":"NewsArticle"}</script>'
        '<script type="application/ld+json">{"@type":"Org"}</script>'
        "</head><body>b</body></html>"
    )
    df = spark.createDataFrame(
        [(1, good.encode()), (2, None), (3, b"\xff\xfe junk"), (4, b"<p>x</p>")],
        "id long, html binary",
    )
    m = structured_metadata_exprs(F.col("html"))
    got = {
        r["id"]: r.asDict()
        for r in df.select("id", *[v.alias(k) for k, v in m.items()]).collect()
    }
    assert got[1]["og_title"] == "T"
    assert got[1]["og_image"] == "https://i.example/x.png"
    assert got[1]["published_time"] == "2026-02-01T00:00:00Z"
    assert got[1]["n_jsonld"] == 2
    assert got[1]["jsonld_type"] == "NewsArticle"
    for i in (2, 3, 4):
        assert got[i]["og_title"] == "" and got[i]["n_jsonld"] == 0
        assert got[i]["jsonld_type"] == "" and got[i]["published_time"] == ""


_EPOCH = dt.datetime(1970, 1, 1)
# outside pandas' nanosecond range (1677-09-21 .. 2262-04-11) but valid
# Spark timestamps
_FAR_DATES = [dt.datetime(1, 1, 1), dt.datetime(1500, 6, 1), dt.datetime(2300, 1, 1),
              dt.datetime(9999, 12, 31)]
_PAYLOADS = [
    (b"<html><body><p>an ordinary page of prose</p></body></html>", None),
    (None, "native text"),
    (None, None),
    (b"%PDF-1.4\n%%PAGE 1\npdf text", None),
]


def _meta_pages(spark, odd: bytes):  # noqa: ANN001, ANN202
    """One page per path, its warc_ts far from the epoch; ``odd`` goes
    into each url and lang, which are binary->string casts."""
    rows = [
        (bytearray(b"http://caf%s.example/%d" % (odd, i)),
         (d - _EPOCH) // dt.timedelta(microseconds=1),
         html and bytearray(html), text, bytearray(b"e%s%d" % (odd, i)))
        for i, (d, (html, text)) in enumerate(zip(_FAR_DATES, _PAYLOADS))
    ]
    df = spark.createDataFrame(rows, "u binary, us bigint, html binary, text string, l binary")
    pages = df.select(
        F.col("u").cast("string").alias("url"), F.timestamp_micros("us").alias("warc_ts"),
        "html", "text", F.col("l").cast("string").alias("lang"),
    )
    return rows, pages


def test_warc_ts_far_from_the_epoch_comes_back_exactly(spark):
    """warc_ts is a kept column: a timestamp pandas cannot hold comes
    back exactly (compared as micros: collect() cannot build year 1)."""
    rows, pages = _meta_pages(spark, b"e")
    got = extract_pages(pages).select(F.unix_micros("warc_ts").alias("us"), "source_kind")
    assert sorted(map(tuple, got.collect())) == sorted(
        zip([r[1] for r in rows], ["html", "text", "none", "pdf"])
    )


def test_invalid_utf8_url_and_lang_come_back_byte_identical(spark):
    rows, pages = _meta_pages(spark, b"\xe9\xff")
    got = extract_pages(pages).select(
        F.col("url").cast("binary").alias("u"), F.col("lang").cast("binary").alias("l")
    )
    assert sorted((bytes(r.u), bytes(r.l)) for r in got.collect()) == sorted(
        (bytes(r[0]), bytes(r[4])) for r in rows
    )
