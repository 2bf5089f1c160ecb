"""WARC container source: serializer <-> distributed reader round-trip,
CDX random access, pages-contract adapter, ANSI neutrality.

Reference analog: the service ingests one uploaded file per request and
sniffs its type (`app/api/routes/ocr.py:94-141`); at web scale the same
bytes arrive as Common-Crawl-style .warc.gz segments. The invariant
under test is byte-identity: pages -> WARC bytes -> read_warc ->
warc_to_pages must reproduce the original html/text payloads exactly,
so extraction over WARC input equals extraction over parquet input.
"""

import datetime as dt
import gzip
import hashlib
import os

import pytest

from webxtract import warc as W

RUN_DATE = "2026-01-15"


def _content_type(row) -> str:
    if row.text is not None:
        return "text/plain; charset=utf-8"
    if row.html is not None and bytes(row.html)[:5] == b"%PDF-":
        return "application/pdf"
    return "text/html; charset=utf-8"


def _payload(row) -> bytes:
    if row.text is not None:
        return row.text.encode("utf-8")
    return bytes(row.html) if row.html is not None else b""


@pytest.fixture(scope="module")
def warc_dir(spark, corpus, tmp_path_factory):
    """First 120 synth pages serialized into 3 .warc.gz segments."""
    pages_path, _ = corpus
    rows = (
        spark.read.parquet(pages_path)
        .orderBy("url")
        .limit(120)
        .collect()
    )
    root = tmp_path_factory.mktemp("warc")
    seg = 0
    for start in range(0, len(rows), 40):
        chunk = rows[start:start + 40]
        W.write_warc_gz(
            str(root / f"seg-{seg:05d}.warc.gz"),
            (
                W.warc_response_record(
                    r.url,
                    (r.warc_ts or dt.datetime(2025, 6, 1)).strftime(
                        "%Y-%m-%dT%H:%M:%SZ"
                    ),
                    _payload(r),
                    content_type=_content_type(r),
                )
                for r in chunk
            ),
        )
        seg += 1
    return str(root), {r.url: r for r in rows}


def test_serializer_deterministic():
    rec = W.warc_response_record(
        "http://example.com/a", "2025-06-01T00:00:00Z", b"<html>hi</html>"
    )
    rec2 = W.warc_response_record(
        "http://example.com/a", "2025-06-01T00:00:00Z", b"<html>hi</html>"
    )
    assert rec == rec2
    assert gzip.compress(rec, mtime=0) == gzip.compress(rec2, mtime=0)
    hdrs, body = W._parse_record(rec)
    assert hdrs["warc-type"] == "response"
    assert hdrs["warc-target-uri"] == "http://example.com/a"
    status, ctype, charset, payload = W._parse_http(body)
    assert status == 200
    assert charset == "utf-8"
    assert payload == b"<html>hi</html>"


def test_member_iteration_offsets(tmp_path):
    recs = [
        W.warc_response_record(
            f"http://h{i}.example.com/", "2025-06-01T00:00:00Z", f"p{i}".encode()
        )
        for i in range(5)
    ]
    path = str(tmp_path / "seg.warc.gz")
    assert W.write_warc_gz(path, iter(recs)) == 5
    data = open(path, "rb").read()
    members = list(W._iter_members(data))
    assert len(members) == 5
    assert members[0][0] == 0
    assert sum(m[1] for m in members) == len(data)
    # every (offset, length) slice decompresses to its own record
    for (off, ln, raw), rec in zip(members, recs):
        assert gzip.decompress(data[off:off + ln]) == rec == raw


def test_read_warc_roundtrip(spark, warc_dir):
    root, by_url = warc_dir
    out = W.read_warc(spark, root).collect()
    assert len(out) == len(by_url)
    for r in out:
        src = by_url[r.url]
        assert bytes(r.payload) == _payload(src)
        assert r.http_status == 200
        assert r.payload_digest == W.payload_digest(_payload(src))
        assert r.record_type == "response"
        assert r.warc_ts is not None


def test_warc_to_pages_extraction_equality(spark, warc_dir):
    from webxtract.ops.extract import extract_pages

    root, by_url = warc_dir
    urls = sorted(by_url)
    direct_rows = [
        (u, by_url[u].warc_ts, by_url[u].html, by_url[u].text, by_url[u].lang)
        for u in urls
    ]
    direct = spark.createDataFrame(
        direct_rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    via_warc = W.warc_to_pages(W.read_warc(spark, root))
    a = {
        r.url: (r.extracted_text, r.source_kind, r.parse_failure)
        for r in extract_pages(direct).collect()
    }
    b = {
        r.url: (r.extracted_text, r.source_kind, r.parse_failure)
        for r in extract_pages(via_warc).collect()
    }
    assert a == b  # byte-identical extracted text per url through WARC


def test_cdx_random_access(spark, warc_dir):
    root, by_url = warc_dir
    cdx = W.cdx_index(W.read_warc(spark, root)).collect()
    assert len(cdx) == len(by_url)
    for row in cdx:
        rec = W.read_warc_record(row.filename, row.offset, row.length)
        assert rec["url"] == row.url
        assert rec["payload_digest"] == row.digest
        assert rec["payload"] == _payload(by_url[row.url])
    # SURT key shape
    k = {row.url: row.urlkey for row in cdx}
    some_url = next(iter(k))
    assert ")" in k[some_url] and not k[some_url].startswith("http")


def test_surt_key_exprs(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("https://www.Example.COM/Path?q=1",),
            ("http://a.b.example.org/x/y",),
        ],
        "url string",
    )
    got = [r.k for r in df.select(W._surt_key(F.col("url")).alias("k")).collect()]
    assert got == ["com,example)/path?q=1", "org,example,b,a)/x/y"]


def test_warc_exprs_ansi_neutral(spark, warc_dir):
    root, _ = warc_dir
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        n = W.warc_to_pages(W.read_warc(spark, root)).count()
        m = W.cdx_index(W.read_warc(spark, root)).count()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert n == m > 0


def test_plain_warc_and_garbage_tail(tmp_path, spark):
    """Uncompressed .warc (multi-record) and a corrupt tail are handled
    without error — quarantine-by-skip, the S1 routing philosophy."""
    recs = [
        W.warc_response_record(
            f"http://p{i}.example.com/", "2025-06-01T00:00:00Z", f"x{i}".encode()
        )
        for i in range(3)
    ]
    path = str(tmp_path / "seg.warc")
    with open(path, "wb") as fh:
        for r in recs:
            fh.write(r)
        fh.write(b"NOT A WARC RECORD")
    rows = W.read_warc(spark, str(tmp_path)).collect()
    assert sorted(r.url for r in rows) == [f"http://p{i}.example.com/" for i in range(3)]
    # random access by in-file byte coords works for plain segments too
    first = next(r for r in rows if r.url == "http://p0.example.com/")
    rec = W.read_warc_record(first.warc_file, first.record_offset, first.record_length)
    assert rec["payload"] == b"x0"


CP1252 = "café – 10 €".encode("cp1252")


def _cp1252_pages(spark, root):  # noqa: ANN001, ANN202
    """pages from one WARC segment holding a windows-1252 text/plain
    record: its text column is the binary->string cast of CP1252."""
    W.write_warc_gz(str(root / "seg.warc.gz"), iter([
        W.warc_response_record(
            "http://cp1252.example.com/", "2025-06-01T00:00:00Z", CP1252,
            content_type="text/plain; charset=windows-1252",
        ),
    ]))
    return W.warc_to_pages(W.read_warc(spark, str(root)))


def test_non_utf8_text_plain_extracts_byte_identical(tmp_path, spark):
    """A text/plain record in a charset other than latin-1 reaches the
    text column by a binary->string cast, so it may be invalid UTF-8:
    extraction keeps it as native text, bytes unchanged, and the task
    survives. So does the whole pipeline, whose rule kernel reads the
    text as ``make_valid_utf8`` of it."""
    from pyspark.sql import functions as F

    from webxtract.ops.extract import extract_pages
    from webxtract.pipeline import run_pipeline

    payload = CP1252
    pages = _cp1252_pages(spark, tmp_path)
    out = extract_pages(pages)
    got = out.select(
        "source_kind", "parse_failure",
        F.col("extracted_text").cast("binary").alias("text"),
        F.col("spans")[0]["text"].cast("binary").alias("span"),
    ).collect()
    assert [tuple(r) for r in got] == [("text", False, payload, payload)]

    # select a rule result, or the optimizer prunes the rule kernel
    full = run_pipeline(pages).select(
        F.col("extracted_text").cast("binary").alias("text"), "fake_detection"
    ).collect()
    assert [r.text for r in full] == [payload]
    assert full[0].fake_detection is not None


def test_wet_sink_writes_non_utf8_text_bytes_unchanged(tmp_path, spark):
    """The cp1252 record -> extract -> WET -> read_warc: the conversion
    record's payload is the extracted text's bytes, so the record's
    Content-Length (Spark's octet_length of them) stays true."""
    from pyspark.sql import functions as F

    from webxtract.ops.extract import extract_pages

    (tmp_path / "warc").mkdir()
    ex = extract_pages(_cp1252_pages(spark, tmp_path / "warc"))
    wet = ex.select(
        W.wet_record_expr(F.col("url"), F.col("warc_ts"), F.col("extracted_text"))
        .alias("wet_record")
    )
    out = str(tmp_path / "wet")
    man = W.write_wet_segments(wet, out, "2026-01-15T00:00:00Z").collect()
    assert sum(m.n_records for m in man) == 1
    back = W.read_warc(spark, out, record_types=("conversion",)).collect()
    assert [bytes(r.payload) for r in back] == [CP1252]
    text = ex.select(F.col("extracted_text").cast("binary")).first()[0]
    assert bytes(text) == CP1252


def test_wet_sink_skips_and_counts_null_records(tmp_path, spark):
    """A page with a NULL url has no WARC-Target-URI, so its NULL
    conversion record is skipped and counted in the manifest's
    n_skipped; the other record is written and reads back."""
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [(None, "some text"), ("http://a.example/", "x")],
        "url string, text string",
    ).coalesce(1)
    wet = pages.select(
        W.wet_record_expr(F.col("url"), F.lit(None).cast("timestamp"), F.col("text"))
        .alias("wet_record")
    )
    out = str(tmp_path / "wet")
    man = W.write_wet_segments(wet, out, "2026-01-15T00:00:00Z").collect()
    assert [(m.n_records, m.n_skipped) for m in man] == [(1, 1)]
    back = W.read_warc(spark, out, record_types=("conversion",)).collect()
    assert [(r.url, bytes(r.payload)) for r in back] == [("http://a.example/", b"x")]


def test_warc_date_forms_read_as_spark_timestamps(tmp_path, spark):
    """warc_ts is Spark's string->timestamp cast of WARC-Date: a date
    past pandas' nanosecond range (2262-04-11) comes back exactly, the
    in-range ISO forms read as pandas reads them, and an unparseable
    date is NULL."""
    import pandas as pd
    from pyspark.sql import functions as F

    in_range = [
        "2025-06-01T00:00:00Z",
        "2025-06-01T00:00:00.123456Z",
        "2025-06-01",
        "2025-06-01T02:00:00+02:00",
    ]
    want = {d: pd.to_datetime(d, utc=True, format="ISO8601").value // 1000 for d in in_range}
    want.update({"2300-01-01T00:00:00Z": 10413792000000000, "garbage": None})
    date_of = {f"http://d{i}.example/": d for i, d in enumerate(want)}
    W.write_warc_gz(str(tmp_path / "seg.warc.gz"), iter([
        W.warc_response_record(url, d, b"x") for url, d in date_of.items()
    ]))
    got = W.read_warc(spark, str(tmp_path)).select(
        "url", F.unix_micros("warc_ts").alias("us")
    ).collect()
    assert {date_of[r.url]: r.us for r in got} == want


def test_warc_extraction_stream_incremental(spark, warc_dir, tmp_path):
    """Streaming crawl ingest: run 1 extracts segment drop A; run 2
    (same checkpoint) sees A+B but processes only B — segment-level
    exactly-once — and the streamed output equals batch extraction over
    the same segments."""
    from webxtract.ops.extract import extract_pages
    from webxtract.streaming import start_warc_extraction_stream
    from webxtract import warc as W

    root, by_url = warc_dir
    segs = sorted(os.listdir(root))
    assert len(segs) >= 2
    drops = tmp_path / "drops"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    drops.mkdir()
    (drops / segs[0]).write_bytes((open(os.path.join(root, segs[0]), "rb")).read())

    q = start_warc_extraction_stream(spark, str(drops), out, ckpt)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert n1 == 40  # one segment = 40 records

    for s in segs[1:]:
        (drops / s).write_bytes(open(os.path.join(root, s), "rb").read())
    q2 = start_warc_extraction_stream(spark, str(drops), out, ckpt)
    q2.awaitTermination(300)
    streamed = spark.read.parquet(out)
    assert streamed.count() == len(by_url)  # committed segment not replayed

    batch = extract_pages(W.warc_to_pages(W.read_warc(spark, root)))
    a = {r.url: r.extracted_text for r in batch.collect()}
    b = {r.url: r.extracted_text for r in streamed.collect()}
    assert a == b  # streamed == batch, byte-identical per url


def test_revisit_records_resolve(spark, tmp_path):
    """Archival revisit records (identical-payload-digest profile)
    parse with their refers-to pointer and resolve their payload from
    the referred response; a dangling pointer stays unresolved."""
    p1 = b"<html>original content one</html>"
    d1 = W.payload_digest(p1)
    recs = [
        W.warc_response_record(
            "http://a.example.com/", "2025-06-01T00:00:00Z", p1
        ),
        W.warc_revisit_record(
            "http://a.example.com/", "2025-07-01T00:00:00Z",
            "http://a.example.com/", "2025-06-01T00:00:00Z", d1,
        ),
        W.warc_revisit_record(
            "http://gone.example.com/", "2025-07-01T00:00:00Z",
            "http://gone.example.com/", "2025-01-01T00:00:00Z", "sha1:NOPE",
        ),
    ]
    W.write_warc_gz(str(tmp_path / "seg.warc.gz"), iter(recs))
    df = W.read_warc(spark, str(tmp_path), record_types=("response", "revisit"))
    rows = {(r.record_type, r.url): r for r in df.collect()}
    assert rows[("revisit", "http://a.example.com/")].refers_to_url == "http://a.example.com/"
    assert rows[("revisit", "http://a.example.com/")].payload_digest == d1
    out = {
        (r.record_type, r.url): r
        for r in W.resolve_revisits(df).collect()
    }
    assert bytes(out[("revisit", "http://a.example.com/")].payload) == p1
    assert out[("revisit", "http://a.example.com/")].resolved is True
    assert out[("response", "http://a.example.com/")].resolved is True
    dangling = out[("revisit", "http://gone.example.com/")]
    assert dangling.resolved is False and bytes(dangling.payload or b"") == b""


def test_base32_sha1_matches_cc_convention(spark):
    """The pure-expression base32(sha1(.)) must equal what a real
    Common Crawl consumer computes (hashlib.sha1 + RFC 4648 b32encode)
    — including empty payloads and multi-byte UTF-8 — and the
    sha1b32-flagged WET record must carry a digest header that
    verifies against its own payload the CC way. The default digest
    stays sha256 (oracle-pinned); the flag is opt-in."""
    import base64
    import hashlib

    from pyspark.sql import functions as F

    from webxtract.warc import base32_sha1_expr, wet_record_expr

    payloads = ["", "hello world", 'quotes " and \\ bs', "unicodé ✓ Ж", "a" * 5000]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(payloads)], "id long, t string")
    got = {
        r["id"]: r["b32"]
        for r in df.select(
            "id", base32_sha1_expr(F.col("t")).alias("b32")
        ).collect()
    }
    for i, p in enumerate(payloads):
        want = base64.b32encode(hashlib.sha1(p.encode()).digest()).decode()
        assert got[i] == want, (p[:20], got[i], want)

    rec = df.select(
        "t",
        wet_record_expr(
            F.lit("https://cc.example/p"),
            F.to_timestamp(F.lit("2026-01-15 00:00:00")),
            F.col("t"),
            digest="sha1b32",
        ).alias("rec"),
    ).collect()
    for r in rec:
        head, _, rest = r["rec"].partition("\r\n\r\n")
        body = rest[:-4]
        dig = [l for l in head.split("\r\n") if l.startswith("WARC-Block-Digest:")][0]
        want = "sha1:" + base64.b32encode(
            hashlib.sha1(body.encode()).digest()
        ).decode()
        assert dig == f"WARC-Block-Digest: {want}"
    # default form unchanged (the oracle contract)
    d0 = df.limit(1).select(
        wet_record_expr(
            F.lit("u"), F.to_timestamp(F.lit("2026-01-15 00:00:00")), F.lit("x")
        ).alias("r")
    ).collect()[0]["r"]
    assert "WARC-Block-Digest: sha256:" in d0


def test_wet_sink_roundtrip(spark, corpus, tmp_path):
    """pages -> extract -> WET segments -> read_warc: every conversion
    payload byte-identical to its extracted_text, one warcinfo record
    per segment file, and segment bytes a pure function of content
    (two writes of the same partitions -> identical file md5s)."""
    from pyspark.sql import functions as F

    from webxtract.ops.extract import extract_pages

    pages_path, _ = corpus
    ex = (
        extract_pages(spark.read.parquet(pages_path))
        .select("url", "warc_ts", "extracted_text")
        .repartition(3, "url")
        .sortWithinPartitions("url")
    )
    wet = ex.withColumn(
        "wet_record",
        W.wet_record_expr(
            F.col("url"), F.col("warc_ts"), F.col("extracted_text")
        ),
    )

    out1, out2 = str(tmp_path / "wet1"), str(tmp_path / "wet2")
    man = W.write_wet_segments(wet, out1, "2026-01-15T00:00:00Z").collect()
    W.write_wet_segments(wet, out2, "2026-01-15T00:00:00Z").collect()

    n_rows = ex.count()
    assert sum(m.n_records for m in man) == n_rows
    assert {m.wet_file for m in man} == set(os.listdir(out1))

    back = {
        r.url: r.txt
        for r in W.read_warc(spark, out1, record_types=("conversion",))
        .select("url", F.col("payload").cast("string").alias("txt"))
        .collect()
    }
    expected = {
        r.url: (r.extracted_text or "") for r in ex.collect()
    }
    assert back == expected

    info = W.read_warc(spark, out1, record_types=("warcinfo",)).collect()
    assert len(info) == len(man)

    for name in os.listdir(out1):
        h1 = hashlib.md5(open(os.path.join(out1, name), "rb").read())
        h2 = hashlib.md5(open(os.path.join(out2, name), "rb").read())
        assert h1.hexdigest() == h2.hexdigest(), name


def test_wat_record_json_payload_parses_and_escapes(spark):
    """The WAT envelope must be real JSON: quotes/backslashes in the
    title escape correctly, NULL title serializes as JSON null, links
    keep document order, and Content-Length equals the payload bytes."""
    import json as _json

    from pyspark.sql import functions as F

    from webxtract.warc import wat_record_expr

    df = spark.createDataFrame(
        [
            (1, 'He said "hi" \\ bye', ["https://a.example/x", "https://b.example/y"]),
            (2, None, []),
            # control characters: tab/LF/CR escape to \t \n \r, other
            # C0 controls are stripped — output must stay RFC 8259-valid
            (3, "tab\there nl\nhere cr\rhere bell\x07gone", []),
        ],
        "id long, title string, links array<string>",
    )
    rec = wat_record_expr(
        F.concat(F.lit("https://w.example/p/"), F.col("id").cast("string")),
        F.to_timestamp(F.lit("2026-01-15 12:00:00")),
        F.col("title"),
        F.col("links"),
    )
    rows = {r["id"]: r["rec"] for r in df.select("id", rec.alias("rec")).collect()}

    def payload(r: str) -> tuple[dict, int]:
        head, _, rest = r.partition("\r\n\r\n")
        body = rest[: -4]  # strip trailing CRLFCRLF
        clen = int(
            [l for l in head.split("\r\n") if l.startswith("Content-Length:")][0]
            .split(":", 1)[1]
        )
        return _json.loads(body), clen == len(body.encode())

    p1, len_ok1 = payload(rows[1])
    assert len_ok1
    env = p1["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == "https://w.example/p/1"
    hm = env["Payload-Metadata"]["HTML-Metadata"]
    assert hm["Head"]["Title"] == 'He said "hi" \\ bye'
    assert hm["Links"] == ["https://a.example/x", "https://b.example/y"]

    p2, len_ok2 = payload(rows[2])
    assert len_ok2
    assert p2["Envelope"]["Payload-Metadata"]["HTML-Metadata"]["Head"]["Title"] is None
    assert "WARC-Type: metadata" in rows[2]

    p3, len_ok3 = payload(rows[3])
    assert len_ok3
    t3 = p3["Envelope"]["Payload-Metadata"]["HTML-Metadata"]["Head"]["Title"]
    assert t3 == "tab\there nl\nhere cr\rhere bellgone"


def test_wat_sink_roundtrip(spark, corpus, tmp_path):
    """pages -> WAT metadata segments -> read_warc: every metadata
    payload parses back as the page's envelope JSON (url echoed
    inside), one warcinfo per segment, deterministic bytes across
    two writes."""
    import json as _json

    from pyspark.sql import functions as F

    from webxtract.linkgraph import hrefs_expr, resolve_link_expr

    pages_path, _ = corpus
    pages = (
        spark.read.parquet(pages_path)
        .filter(F.col("html").isNotNull())
        .repartition(2, "url")
        .sortWithinPartitions("url")
    )
    html_text = F.coalesce(F.col("html").cast("string"), F.lit(""))
    title = F.regexp_extract(html_text, "<title>(.*?)</title>", 1)
    title = F.when(title == "", F.lit(None).cast("string")).otherwise(title)
    links = F.filter(
        F.transform(hrefs_expr(html_text),
                    lambda l: resolve_link_expr(l, F.col("url"))),
        lambda x: x.isNotNull(),
    )
    wat = pages.select(
        "url",
        W.wat_record_expr(
            F.col("url"), F.col("warc_ts"), title, links
        ).alias("wat_record"),
    )

    out1, out2 = str(tmp_path / "wat1"), str(tmp_path / "wat2")
    man = W.write_wat_segments(wat, out1, "2026-01-15T00:00:00Z").collect()
    W.write_wat_segments(wat, out2, "2026-01-15T00:00:00Z").collect()
    assert sum(m.n_records for m in man) == pages.count()
    assert {m.wat_file for m in man} == set(os.listdir(out1))

    back = W.read_warc(spark, out1, record_types=("metadata",)).select(
        "url", F.col("payload").cast("string").alias("p")
    ).collect()
    assert len(back) == pages.count()
    for r in back:
        env = _json.loads(r.p)["Envelope"]
        assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == r.url

    info = W.read_warc(spark, out1, record_types=("warcinfo",)).collect()
    assert len(info) == len(man)

    for name in os.listdir(out1):
        h1 = hashlib.md5(open(os.path.join(out1, name), "rb").read()).hexdigest()
        h2 = hashlib.md5(open(os.path.join(out2, name), "rb").read()).hexdigest()
        assert h1 == h2, name


# ------------------------------------------------------------- zipnum


def _zipnum_lines(spark, n=400):
    """Deterministic CDX corpus: md5-prefixed SURT-ish urlkeys so the
    layout kernel's prefix-bucket histogram sees many buckets."""
    from pyspark.sql import functions as F

    d = spark.range(n).select(F.col("id").alias("doc_id"))
    did = F.col("doc_id").cast("string")
    urlkey = F.concat(F.substring(F.md5(did), 1, 2), F.lit(",site)/"), did)
    ts = (F.lit(20260101000000) + F.col("doc_id") % 9973).cast("string")
    line = W.cdx_line_expr(
        urlkey,
        ts,
        F.concat(F.lit("http://site.example/"), did),
        F.lit("text/html"),
        F.lit(200),
    )
    return d.select(
        urlkey.alias("urlkey"), ts.alias("timestamp"), line.alias("line")
    )


def test_zipnum_index_layout(spark):
    lines = _zipnum_lines(spark, 400)
    idx = W.zipnum_index(lines, lines_per_block=37, n_shards=4, prefix_len=2)
    rows = sorted(idx.collect(), key=lambda r: (r.shard, r.block_seq))
    # 400/37 -> 11 blocks, bps=ceil(11/4)=3 -> shards 0..3
    assert len(rows) == 11
    assert sorted({r.shard for r in rows}) == [0, 1, 2, 3]
    assert sum(r.n_lines for r in rows) == 400
    assert all(r.n_lines == 37 for r in rows[:-1])
    # offsets are contiguous uncompressed coordinates within each shard
    pos = {}
    for r in rows:
        assert r.offset == pos.get(r.shard, 0)
        pos[r.shard] = r.offset + r.length
    # block firsts follow the global (urlkey, timestamp) sort
    keys = [(r.urlkey, r.timestamp) for r in rows]
    assert keys == sorted(keys)
    full = sorted(
        lines.collect(), key=lambda r: (r.urlkey, r.timestamp, r.line)
    )
    assert (rows[0].urlkey, rows[0].timestamp) == (
        full[0].urlkey,
        full[0].timestamp,
    )
    # scale guard: no empty-frame window (single-partition global sort)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in plan or "PartitionBy" not in plan  # soft
    for ln in plan.splitlines():
        if "Sort [" in ln and "urlkey" in ln and "global=true" in ln:
            raise AssertionError(f"global sort over lines in plan: {ln}")


def test_zipnum_writer_runs_once(spark, tmp_path):
    """The returned cluster.idx frame holds the collected rows: an action
    on it does not run the shard writer again. No lines give an empty
    cluster.idx and an empty frame."""
    lines = _zipnum_lines(spark, 100)
    out = str(tmp_path / "zipnum")
    idx = W.write_zipnum_shards(
        lines, out, lines_per_block=37, n_shards=2, prefix_len=2
    )
    shard_files = [f for f in os.listdir(out) if f.startswith("cdx-")]
    assert len(shard_files) == 2
    for f in shard_files:
        os.remove(os.path.join(out, f))
    assert idx.count() == 3  # 100 lines / 37 per block
    assert sorted(os.listdir(out)) == ["cluster.idx"]

    empty = str(tmp_path / "empty")
    assert W.write_zipnum_shards(lines.limit(0), empty, 37, 2, 2).count() == 0
    assert os.listdir(empty) == ["cluster.idx"]
    assert os.path.getsize(os.path.join(empty, "cluster.idx")) == 0


def test_zipnum_write_and_lookup(spark, tmp_path):
    lines = _zipnum_lines(spark, 400)
    out = str(tmp_path / "zipnum")
    idx = W.write_zipnum_shards(
        lines, out, lines_per_block=37, n_shards=4, prefix_len=2
    )
    files = sorted(os.listdir(out))
    shard_files = [f for f in files if f.startswith("cdx-")]
    assert "cluster.idx" in files and len(shard_files) == 4
    # decompressing every member of every shard, in shard order,
    # reproduces the exact global (urlkey, timestamp, line) sort
    got = []
    for sf in shard_files:
        with open(os.path.join(out, sf), "rb") as f:
            got += gzip.decompress(f.read()).decode("utf-8").splitlines()
    expected = [
        r.line
        for r in sorted(
            lines.collect(), key=lambda r: (r.urlkey, r.timestamp, r.line)
        )
    ]
    assert got == expected
    # cluster.idx rows carry COMPRESSED coordinates: seek + decompress
    # exactly one gzip member and its first line matches the index key
    with open(os.path.join(out, "cluster.idx")) as f:
        entries = [ln.split("\t") for ln in f.read().splitlines()]
    assert len(entries) == 11
    for key_ts, shard_file, off, length, _seq in entries:
        with open(os.path.join(out, shard_file), "rb") as f:
            f.seek(int(off))
            blob = f.read(int(length))
        block = gzip.decompress(blob).decode("utf-8").splitlines()
        assert block[0].startswith(key_ts.split(" ", 1)[0] + " ")
    # returned index frame agrees with cluster.idx on disk
    assert sorted(
        (r.urlkey, r.timestamp, r.shard_file, r.offset, r.length)
        for r in idx.collect()
    ) == sorted(
        (e[0].split(" ")[0], e[0].split(" ")[1], e[1], int(e[2]), int(e[3]))
        for e in entries
    )
    # point lookups: one block decompressed per probe, absent keys miss
    for r in lines.limit(5).collect():
        assert r.line in W.zipnum_lookup(out, r.urlkey)
    assert W.zipnum_lookup(out, "00,absent)/nope") == []
    assert W.zipnum_lookup(out, "\x00") == []
