"""WARC segment source/sink — Common-Crawl-style container ingestion.

The reference service ingests one uploaded file per request
(`/root/reference/app/api/routes/ocr.py:94-141` reads the multipart
body and sniffs its content type); at web scale the same bytes arrive
as WARC archives, the Common Crawl container: each record is an
independently-gzipped member and members are concatenated into
``.warc.gz`` segment files. This module is the S1 ingestion analog for
that shape:

- ``warc_response_record`` / ``write_warc_gz``: a deterministic
  WARC/1.0 serializer (synth + test side; per-record gzip members,
  ``mtime=0`` so identical inputs give identical bytes);
- ``read_warc``: ``binaryFile`` scan -> ``kernels.doc_rows`` record
  parser yielding one row per record with the member's exact
  ``(offset, length)`` inside its segment — the CDX random-access
  contract;
- ``cdx_index``: the CDX-style index projection (SURT url key,
  14-digit timestamp, mime, status, digest, offset/length/filename);
- ``read_warc_record``: single-record random access by
  ``(path, offset, length)`` — proves a CDX pointer alone reconstructs
  the record (the selective re-parse path at scale);
- ``warc_to_pages``: adapter onto the ``pages(url, warc_ts, html,
  text, lang)`` contract consumed by ``extract_pages``.

Scale shape: Common Crawl ships ~64k segment files of ~1 GiB per
crawl, so file-level parallelism alone saturates any fleet; per-record
gzip members additionally let a reader resync at any member boundary
(this is how CC's own jobs split segments). Here ``binaryFile`` is the
segment reader — one task parses one segment's member chain
sequentially (gzip members cannot be split *within* a member anyway) —
and every output row carries ``(warc_file, record_offset,
record_length)`` lineage so downstream ops re-open single records
without rescanning segments. Parsing is one ``mapInArrow`` pass
(``kernels.doc_rows``) over whole segments.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import io
import re
import zlib
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WARC_SCHEMA = StructType(
    [
        StructField("warc_file", StringType(), True),
        StructField("record_offset", LongType(), True),
        StructField("record_length", LongType(), True),
        StructField("record_type", StringType(), True),
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("content_type", StringType(), True),
        StructField("charset", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("payload_digest", StringType(), True),
        # revisit records (WARC-Type: revisit, identical-payload-digest
        # profile): the capture whose content this one duplicates
        StructField("refers_to_url", StringType(), True),
        StructField("refers_to_date", StringType(), True),
    ]
)

_CRLF2 = b"\r\n\r\n"


# ------------------------------------------------------------- serializer


def _det_record_id(url: str, date_iso: str) -> str:
    """Deterministic urn:uuid record id (md5-derived; the spec only
    requires global uniqueness, and determinism is what makes the
    synth corpus reproducible byte-for-byte)."""
    h = hashlib.md5((url + "\n" + date_iso).encode("utf-8")).hexdigest()
    return f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"


def payload_digest(payload: bytes) -> str:
    """CC convention: ``sha1:`` + base32(sha1(payload))."""
    return "sha1:" + base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")


def warc_response_record(
    url: str,
    date_iso: str,
    payload: bytes,
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """One uncompressed WARC/1.0 response record (WARC headers + an
    HTTP/1.1 200 response block) with trailing record separator."""
    http = (
        "HTTP/1.1 200 OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("latin-1") + payload
    warc_head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: {_det_record_id(url, date_iso)}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Payload-Digest: {payload_digest(payload)}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("utf-8")
    return warc_head + http + _CRLF2


def write_warc_gz(path: str, records: Iterator[bytes]) -> int:
    """Concatenated per-record gzip members (the CC segment layout);
    ``mtime=0`` keeps output bytes a pure function of input. Returns
    the record count."""
    n = 0
    with open(path, "wb") as fh:
        for rec in records:
            fh.write(gzip.compress(rec, mtime=0))
            n += 1
    return n


# ---------------------------------------------------------------- parser


def _iter_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, compressed_length, raw_bytes) per gzip member of a
    concatenated-member segment; a non-gzip buffer is yielded whole at
    offset 0 (plain ``.warc`` support)."""
    if not data.startswith(b"\x1f\x8b"):
        yield 0, len(data), data
        return
    pos, n = 0, len(data)
    view = memoryview(data)  # zero-copy tails: a 1 GiB segment holds
    # tens of thousands of members, and bytes-slicing the remainder per
    # member would be quadratic in segment size
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        raw = d.decompress(view[pos:])
        raw += d.flush()
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:  # corrupt tail: stop rather than spin
            return
        yield pos, consumed, raw
        pos += consumed


def _split_records(raw: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset_in_raw, length_in_raw, record_bytes) for each WARC
    record in an uncompressed buffer (one per gzip member in CC
    segments, but plain .warc files chain many)."""
    pos, n = 0, len(raw)
    while pos < n:
        if raw[pos:pos + 5] != b"WARC/":
            nxt = raw.find(b"WARC/", pos)
            if nxt < 0:
                return
            pos = nxt
        he = raw.find(_CRLF2, pos)
        if he < 0:
            return
        head = raw[pos:he].decode("utf-8", "replace").split("\r\n")
        hdrs = {}
        for line in head[1:]:
            k, _, v = line.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs.get("content-length", "0"))
        except ValueError:
            clen = 0
        end = min(n, he + 4 + clen + 4)  # body + record separator
        yield pos, end - pos, raw[pos:end]
        pos = end


def _parse_record(rec: bytes) -> tuple[dict, bytes]:
    he = rec.find(_CRLF2)
    if he < 0:
        return {}, b""
    head = rec[:he].decode("utf-8", "replace").split("\r\n")
    hdrs = {}
    for line in head[1:]:
        k, _, v = line.partition(":")
        hdrs[k.strip().lower()] = v.strip()
    try:
        clen = int(hdrs.get("content-length", "0"))
    except ValueError:
        clen = 0
    return hdrs, rec[he + 4:he + 4 + clen]


_CHARSET_RE = re.compile(r"charset=([\w.\-]+)", re.I)


def _parse_http(body: bytes) -> tuple[int | None, str | None, str | None, bytes]:
    """(status, content_type, charset, payload) from an HTTP response
    block; a body with no header block is returned as the payload."""
    i = body.find(_CRLF2)
    if i < 0 or not body.startswith(b"HTTP/"):
        return None, None, None, body
    head = body[:i].decode("latin-1", "replace").split("\r\n")
    status = None
    parts = head[0].split()
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    charset = None
    if ctype:
        m = _CHARSET_RE.search(ctype)
        if m:
            charset = m.group(1).lower()
    return status, ctype, charset, body[i + 4:]


def _parse_segment(path: str, data: bytes) -> Iterator[tuple]:
    for m_off, m_len, raw in _iter_members(data):
        gz = data[:2] == b"\x1f\x8b"
        for r_off, r_len, rec in _split_records(raw):
            hdrs, body = _parse_record(rec)
            rtype = hdrs.get("warc-type")
            url = hdrs.get("warc-target-uri")
            date = hdrs.get("warc-date")
            digest = hdrs.get("warc-payload-digest")
            if rtype == "response":
                status, ctype, charset, payload = _parse_http(body)
            else:
                status, ctype, charset, payload = None, None, None, body
            if digest is None and payload:
                digest = payload_digest(payload)
            # random-access coords: for gz segments the member IS the
            # record (CC layout) -> (member offset, member length);
            # plain segments -> byte coords inside the file.
            off = m_off if gz else r_off
            ln = m_len if gz else r_len
            yield (
                path, off, ln, rtype, url, date, status, ctype, charset,
                payload, digest,
                hdrs.get("warc-refers-to-target-uri"),
                hdrs.get("warc-refers-to-date"),
            )


def parse_segments(segments: DataFrame, record_types: tuple[str, ...]) -> DataFrame:
    """(path, content) segment frame, batch or streaming -> WARC_SCHEMA
    rows of ``record_types`` (every type when empty): the per-segment
    parse both WARC readers run, one ``kernels.doc_rows`` pass. The
    kernel emits the raw ``WARC-Date`` string; ``warc_ts`` is Spark's
    string->timestamp cast of it (NULL where it does not parse)."""
    from webxtract.kernels import doc_rows

    types = set(record_types) if record_types else None

    def _parse_records():  # noqa: ANN202
        return lambda path, content: [
            r for r in _parse_segment(path, content) if types is None or r[3] in types
        ]

    fields = [
        StructField("warc_ts", StringType(), True) if f.name == "warc_ts" else f
        for f in WARC_SCHEMA.fields
    ]
    rows = doc_rows(segments, [], ["path", "content"], fields, _parse_records)
    return rows.withColumn("warc_ts", F.col("warc_ts").try_cast("timestamp"))


def read_warc(
    spark: SparkSession, path: str, record_types: tuple[str, ...] = ("response",)
) -> DataFrame:
    """Distributed WARC reader: ``binaryFile`` segment scan ->
    ``parse_segments``. Filter-by-type happens inside the
    parser (rows never materialize), and the payload column stays
    binary so Catalyst prunes it for metadata-only queries downstream
    (CDX build reads headers only after this materialization point).
    """
    seg = spark.read.format("binaryFile").load(path).select("path", "content")
    return parse_segments(seg, record_types)


def read_warc_record(path: str, offset: int, length: int) -> dict:
    """Single-record random access from a CDX pointer — open, seek,
    read ``length`` bytes, decompress-if-member, parse. Plain Python
    (driver or worker side): this is the selective re-fetch path, not
    a DataFrame op."""
    with open(path.removeprefix("file:"), "rb") as fh:
        fh.seek(offset)
        blob = fh.read(length)
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)
    hdrs, body = _parse_record(blob)
    status, ctype, charset, payload = (
        _parse_http(body) if hdrs.get("warc-type") == "response"
        else (None, None, None, body)
    )
    return {
        "record_type": hdrs.get("warc-type"),
        "url": hdrs.get("warc-target-uri"),
        "warc_date": hdrs.get("warc-date"),
        "http_status": status,
        "content_type": ctype,
        "charset": charset,
        "payload": payload,
        "payload_digest": hdrs.get("warc-payload-digest") or payload_digest(payload),
    }


# ----------------------------------------------------------- projections


def _surt_key(url: Column) -> Column:
    """SURT-style url key (the CDX sort key): scheme and leading www.
    stripped, host reversed comma-joined, ``)`` + lowercased
    path-and-query. Pure string exprs — no UDF."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    host = F.regexp_extract(u, r"^([^/]*)", 1)
    rest = F.regexp_replace(u, r"^[^/]*", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(rev, F.lit(")"), rest)


def cdx_index(warc: DataFrame) -> DataFrame:
    """CDX-style index rows from ``read_warc`` output: one row per
    record with its exact random-access coordinates. Narrow projection
    — at segment scale this is the classic scan->project->write job;
    sorting by ``urlkey`` for the final index is the single shuffle a
    real CDX build pays (left to the caller's writer)."""
    return warc.select(
        _surt_key(F.col("url")).alias("urlkey"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("timestamp"),
        F.col("url"),
        F.coalesce(
            F.regexp_extract("content_type", r"^([^;]+)", 1), F.lit("unk")
        ).alias("mime"),
        F.col("http_status").alias("status"),
        F.col("payload_digest").alias("digest"),
        F.col("record_length").alias("length"),
        F.col("record_offset").alias("offset"),
        F.col("warc_file").alias("filename"),
    )


# ------------------------------------------------- zipnum (cluster.idx)

# Common Crawl serves its per-crawl CDX through the "zipnum" sharded
# layout (the pywb ZipNum cluster): the sorted CDX lines are cut into
# fixed-line-count blocks, each block gzip-compressed independently,
# blocks concatenated into a bounded number of cdx-NNNNN.gz shard
# files, and a SECONDARY index (cluster.idx) holds one plain-text line
# per block — the block's first key plus (shard file, byte offset,
# compressed length, block seq) — so a lookup binary-searches the tiny
# cluster.idx and decompresses exactly ONE block instead of scanning a
# 200 GB index. zipnum_index below computes that layout declaratively
# (block boundaries, first keys, line counts, uncompressed coordinates
# — everything deterministic before compression); write_zipnum_shards
# is the distributed sink that actually gzips the blocks and emits the
# real cluster.idx rows with COMPRESSED offsets (compression happens
# per writer task, so those bytes are not expressible as a Catalyst
# plan — the pytest verifies them by seeking and decompressing).


def _zipnum_ranked(
    lines: DataFrame,
    lines_per_block: int,
    n_shards: int,
    prefix_len: int,
) -> DataFrame:
    """Shared layout kernel: lines + their (shard, block_seq) under
    the exact global (urlkey, timestamp, line) order. The global rank
    is histogram-composed — (broadcast cumulative count of urlkey
    PREFIX buckets strictly before mine) + row_number within my
    bucket — so no single-partition window ever materializes; the
    prefix is an order-preserving bucketing of the sort key."""
    from pyspark.sql import Window

    base = lines.select(
        F.substring("urlkey", 1, prefix_len).alias("__b"),
        "urlkey",
        "timestamp",
        "line",
    )
    hist = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "__b", F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__below")
    )
    n = hist.agg(F.sum("__c").alias("__n"))
    wr = Window.partitionBy("__b").orderBy("urlkey", "timestamp", "line")
    blocks_per_shard = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(
            F.ceil(F.col("__n") / F.lit(lines_per_block)) / F.lit(n_shards)
        ).cast("long"),
    )
    block = (
        (F.col("__below") + F.row_number().over(wr) - F.lit(1))
        / F.lit(lines_per_block)
    ).cast("long")
    return (
        base.join(F.broadcast(cum), "__b")
        .crossJoin(F.broadcast(n))
        .select(
            "urlkey",
            "timestamp",
            "line",
            block.alias("block_seq"),
            blocks_per_shard.alias("__bps"),
        )
        .withColumn("shard", (F.col("block_seq") / F.col("__bps")).cast("int"))
        .drop("__bps")
    )


def cdx_line_expr(
    urlkey: Column, timestamp: Column, url: Column, mime: Column, status: Column
) -> Column:
    """The space-separated 5-field CDX line (urlkey, timestamp, url,
    mime, status): the SQL-derivable prefix of CDX-9, whose digest and
    random-access coordinates only the segment writer knows. Pure
    concat — zero Python."""
    return F.concat_ws(" ", urlkey, timestamp, url, mime, status.cast("string"))


def zipnum_index(
    lines: DataFrame,
    lines_per_block: int = 3000,
    n_shards: int = 1,
    prefix_len: int = 4,
) -> DataFrame:
    """Zipnum secondary-index layout over CDX ``lines(urlkey,
    timestamp, line)``: assigns every line an exact global rank in
    (urlkey, timestamp, line) order, cuts ranks into blocks of
    ``lines_per_block``, blocks into ``n_shards`` contiguous shards,
    and returns one row per block — ``(shard, shard_file, block_seq,
    urlkey, timestamp, offset, length, n_lines)`` where offset/length
    are UNCOMPRESSED within-shard byte coordinates (each line +1 for
    its ``\\n``). This is cluster.idx modulo compression; the writer
    substitutes gzip-member coordinates at serialization time.

    Scale shape: the global sort-rank is NOT a single-partition
    window. Same histogram trick as curation.value_percentiles — rank
    = (broadcast cumulative count of urlkey-prefix buckets before
    mine) + row_number within my bucket, so the only ordered windows
    run over (a) the bounded prefix-bucket histogram and (b) one
    bucket's lines (prefix_len controls bucket granularity; SURT keys
    spread hosts across buckets, and a hotter prefix just means a
    bigger — still single-host-bounded — window partition, the same
    unit a range-partitioned sort would give one task). Per-block and
    per-shard aggregation shuffles only (block, 2 longs); the
    per-shard offset window runs over block COUNTS (corpus /
    lines_per_block / n_shards rows — CC's real numbers give ~300
    blocks per shard), never over lines."""
    from pyspark.sql import Window

    ranked = _zipnum_ranked(lines, lines_per_block, n_shards, prefix_len)
    per_block = ranked.groupBy("shard", "block_seq").agg(
        F.min(F.struct("urlkey", "timestamp")).alias("__first"),
        F.sum(F.octet_length("line") + F.lit(1)).alias("length"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    wo = (
        Window.partitionBy("shard")
        .orderBy("block_seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_block.select(
        "shard",
        F.format_string("cdx-%05d.gz", "shard").alias("shard_file"),
        "block_seq",
        F.col("__first.urlkey").alias("urlkey"),
        F.col("__first.timestamp").alias("timestamp"),
        F.coalesce(F.sum("length").over(wo), F.lit(0)).alias("offset"),
        "length",
        "n_lines",
    )


def write_zipnum_shards(
    lines: DataFrame,
    out_dir: str,
    lines_per_block: int = 3000,
    n_shards: int = 1,
    prefix_len: int = 4,
) -> DataFrame:
    """Distributed zipnum sink: writes ``cdx-NNNNN.gz`` shard files
    (one gzip member per block, mtime=0 for determinism) plus
    ``cluster.idx`` — the real Common-Crawl-servable layout — and
    returns the cluster.idx rows ``(urlkey, timestamp, shard_file,
    offset, length, block_seq)`` with COMPRESSED coordinates, as a
    frame over the rows already collected: the writer runs once.

    Scale shape: lines are hash-repartitioned on ``shard`` (every
    shard lands whole in one task; a task may own several shards) and
    sorted within partitions by (shard, block, key) — exactly the sort
    a shard writer needs anyway, same contract as write_wet_segments.
    Only (shard, block_seq, urlkey, timestamp, line) flows through the
    exchange; the writer is one ``mapInArrow`` that reads those five
    columns through ``kernels.pylist``. cluster.idx itself is
    corpus/lines_per_block rows (CC: ~1M lines for a 3G-line crawl) —
    small enough that the caller coalesces it to one file."""
    import os

    import pyarrow as pa

    from webxtract.kernels import pylist

    tagged = _zipnum_ranked(lines, lines_per_block, n_shards, prefix_len)
    schema = (
        "urlkey string, timestamp string, shard_file string, "
        "offset long, length long, block_seq long"
    )
    cols = ["urlkey", "timestamp", "line", "shard", "block_seq"]

    def write(batches):  # noqa: ANN001, ANN202
        os.makedirs(out_dir, exist_ok=True)
        out_rows: list[tuple] = []
        cur_shard = None
        fh = None
        pos = 0

        # accumulate the task's rows (one task owns whole shards and
        # rows arrive sorted), flushing one gzip member per block
        def flush(block_rows: list[tuple], shard: int, seq: int) -> None:
            nonlocal pos
            blob = gzip.compress(
                ("".join(r[2] + "\n" for r in block_rows)).encode("utf-8"),
                mtime=0,
            )
            fh.write(blob)
            urlkey, ts = block_rows[0][:2]
            out_rows.append((urlkey, ts, f"cdx-{shard:05d}.gz", pos, len(blob), seq))
            pos += len(blob)

        pending: list[tuple] = []
        cur_block = None
        for b in batches:
            for urlkey, ts, line, shard, seq in zip(*(pylist(b.column(c)) for c in cols)):
                if shard != cur_shard:
                    if pending:
                        flush(pending, cur_shard, cur_block)
                        pending = []
                    if fh is not None:
                        fh.close()
                    fh = open(os.path.join(out_dir, f"cdx-{shard:05d}.gz"), "wb")
                    cur_shard, pos = shard, 0
                    cur_block = seq
                if seq != cur_block:
                    if pending:
                        flush(pending, cur_shard, cur_block)
                        pending = []
                    cur_block = seq
                pending.append((urlkey, ts, line))
        if pending:
            flush(pending, cur_shard, cur_block)
        if fh is not None:
            fh.close()
        types = [pa.string()] * 3 + [pa.int64()] * 3
        out_cols = list(zip(*out_rows)) or [()] * len(types)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(out_cols, types)],
            ["urlkey", "timestamp", "shard_file", "offset", "length", "block_seq"],
        )

    idx = (
        tagged.repartition(max(n_shards, 1), "shard")
        .sortWithinPartitions("shard", "block_seq", "urlkey", "timestamp", "line")
        .mapInArrow(write, schema)
    )
    # the one run of the writer; the returned frame is built from the
    # collected Arrow rows (no Python-row RDD), so an action on it
    # writes nothing
    table = idx.toArrow().sort_by([("urlkey", "ascending"), ("timestamp", "ascending")])
    # no task creates out_dir when there are no lines
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "cluster.idx"), "w") as f:
        for urlkey, ts, shard_file, offset, length, seq in zip(
            *(pylist(c) for c in table.columns)
        ):
            f.write(f"{urlkey} {ts}\t{shard_file}\t{offset}\t{length}\t{seq}\n")
    return lines.sparkSession.createDataFrame(table)


def zipnum_lookup(root: str, urlkey: str) -> list[str]:
    """Random access through the zipnum layout (the consumer side, as
    pywb's ZipNum loader does it): binary-search cluster.idx for the
    last block whose first key is <= the target, seek into that one
    gzip member, decompress it alone, and return the matching CDX
    lines. Test/driver-side helper — one block decompressed per
    lookup regardless of index size."""
    import bisect
    import os

    with open(os.path.join(root, "cluster.idx")) as f:
        entries = [ln.rstrip("\n").split("\t") for ln in f]
    keys = [e[0].split(" ", 1)[0] for e in entries]
    i = bisect.bisect_right(keys, urlkey) - 1
    if i < 0:
        return []
    _, shard_file, offset, length, _ = entries[i]
    with open(os.path.join(root, shard_file), "rb") as f:
        f.seek(int(offset))
        blob = f.read(int(length))
    out = []
    for ln in gzip.decompress(blob).decode("utf-8").splitlines():
        if ln.split(" ", 1)[0] == urlkey:
            out.append(ln)
    return out


def warc_to_pages(warc: DataFrame) -> DataFrame:
    """Adapt response records onto the pages(url, warc_ts, html, text,
    lang) ingestion contract: text/plain payloads decode into ``text``
    (the pre-extracted path), everything else stays binary ``html`` for
    the extraction router's own sniffing (PDF magic, HTML tags)."""
    is_text = F.col("content_type").startswith("text/plain")
    # decode with the declared charset when it is latin-1; the default
    # leg is a binary->string cast (UTF-8 reinterpret), which unlike
    # F.decode(..., 'UTF-8') cannot raise MALFORMED_CHARACTER_CODING on
    # garbage bytes under the driver's ANSI-on session.
    decoded = F.when(
        F.col("charset") == "latin-1", F.decode("payload", "ISO-8859-1")
    ).otherwise(F.col("payload").cast("string"))
    # a zero-byte payload carries nothing to extract: map it to NULL on
    # both legs so it routes to the quarantine path exactly like a page
    # row with neither html nor text (the S1 parse-failure analog).
    nonempty = F.length("payload") > 0
    return warc.where(F.col("record_type") == "response").select(
        F.col("url"),
        F.col("warc_ts"),
        F.when(~is_text & nonempty, F.col("payload")).alias("html"),
        F.when(is_text & nonempty, decoded).alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# ------------------------------------------------------------- WET sink

# An extraction tier's canonical product is the WET file: one
# ``WARC-Type: conversion`` record of extracted plain text per page,
# gzip-membered exactly like the response segments it derives from
# (Common Crawl ships one .warc.wet.gz per .warc.gz). The reference
# service returns extracted text per request
# (`/root/reference/app/models/responses.py:26-34`); at archive scale
# the same output is serialized as WET. The record itself is built as a
# PURE string expression (zero Python), so the serialization plan is a
# narrow projection over the extraction output and the DuckDB oracle
# can rebuild the identical bytes. The DEFAULT WARC-Block-Digest is
# ``sha256:<hex>`` (both engines share sha256/md5, so the oracle
# contract pins it; the WARC spec permits any labelled algorithm); a
# real Common-Crawl consumer that verifies digests gets the CC
# convention with ``digest="sha1b32"`` — ``sha1:<base32>`` built by
# base32_sha1_expr as a pure expression, equal byte-for-byte to
# ``payload_digest`` (the Python writer's form, tested against
# hashlib+b32encode in tests/test_warc.py).

_CRLF = "\r\n"

_B32_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def base32_sha1_expr(data: Column) -> Column:
    """RFC 4648 base32 of sha1(data) — the Common Crawl WARC digest
    body (160 bits = exactly 32 alphabet chars, no padding) — as a PURE
    codegen expression: the 40-char sha1 hex splits into four
    10-hex-char (40-bit) blocks, each conv'd to a long and sliced into
    eight 5-bit alphabet indices. Zero Python, usable in the same
    narrow projection as the record concat."""
    hexs = F.sha1(data)
    chars = []
    for b in range(4):
        v = F.conv(F.substring(hexs, b * 10 + 1, 10), 16, 10).cast("long")
        for i in range(8):
            idx = F.shiftright(v, 35 - 5 * i).bitwiseAND(F.lit(31)).cast("int")
            chars.append(
                F.substr(F.lit(_B32_ALPHABET), idx + F.lit(1), F.lit(1))
            )
    return F.concat(*chars)


def _uuid_expr(h: Column) -> Column:
    """8-4-4-4-12 hyphenation of an md5 hex column into urn:uuid form
    (the expression twin of ``_det_record_id``)."""
    return F.concat(
        F.lit("<urn:uuid:"),
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12), F.lit(">"),
    )


def wet_record_expr(
    uri: Column,
    warc_ts: Column,
    text: Column,
    lang: Column | None = None,
    digest: str = "sha256",
) -> Column:
    """The full uncompressed WET conversion record (headers + payload +
    record separator) as one string Column. NULL text serializes as an
    empty payload (Content-Length: 0) — a blank-extraction page still
    gets its conversion record, mirroring CC. ``WARC-Refers-To`` is the
    deterministic id of the response record this text was converted
    from (same derivation as ``warc_response_record``), so a WET row
    links back to its WARC capture without carrying offsets.

    ``digest``: "sha256" (default, the oracle-pinned contract) or
    "sha1b32" (Common Crawl's ``sha1:<base32>`` convention, for
    segments a real CC WET consumer will digest-verify)."""
    if digest not in ("sha256", "sha1b32"):
        raise ValueError(f"unknown digest option: {digest!r}")
    t = F.coalesce(text, F.lit(""))
    # NULL capture time would NULL the whole concat: pin it to epoch so
    # a timestamp-less page still serializes (CC requires WARC-Date).
    d = F.coalesce(
        F.date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("1970-01-01T00:00:00Z"),
    )
    rec_id = _uuid_expr(
        F.md5(F.concat(uri, F.lit("\nconversion\n"), d).cast("binary"))
    )
    refers = _uuid_expr(F.md5(F.concat(uri, F.lit("\n"), d).cast("binary")))
    lang_hdr = (
        F.lit("")
        if lang is None
        else F.when(
            lang.isNotNull(),
            F.concat(
                F.lit("WARC-Identified-Content-Language: "), lang, F.lit(_CRLF)
            ),
        ).otherwise(F.lit(""))
    )
    return F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit("WARC-Type: conversion" + _CRLF),
        F.lit("WARC-Target-URI: "), uri, F.lit(_CRLF),
        F.lit("WARC-Date: "), d, F.lit(_CRLF),
        F.lit("WARC-Record-ID: "), rec_id, F.lit(_CRLF),
        F.lit("WARC-Refers-To: "), refers, F.lit(_CRLF),
        lang_hdr,
        F.lit("WARC-Block-Digest: "),
        (
            F.concat(F.lit("sha1:"), base32_sha1_expr(t))
            if digest == "sha1b32"
            else F.concat(F.lit("sha256:"), F.sha2(t, 256))
        ),
        F.lit(_CRLF),
        F.lit("Content-Type: text/plain" + _CRLF),
        F.lit("Content-Length: "), F.octet_length(t).cast("string"),
        F.lit(_CRLF + _CRLF),
        t,
        F.lit(_CRLF + _CRLF),
    )


def wet_warcinfo_record(filename: str, date_iso: str) -> bytes:
    """The warcinfo record that heads each WET segment file."""
    body = (
        "software: webxtract\r\n"
        "format: WARC File Format 1.0\r\n"
        f"extractedDate: {date_iso}\r\n"
    ).encode("utf-8")
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        f"WARC-Record-ID: {_det_record_id('warcinfo:' + filename, date_iso)}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"WARC-Filename: {filename}\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("utf-8")
    return head + body + _CRLF2


def _write_segments(df: DataFrame, kind: str, out_dir: str, run_date_iso: str) -> DataFrame:
    """The WET and WAT sink: each task writes the bytes of its
    partition's ``{kind}_record`` column, unchanged (so each record's
    ``Content-Length``, which Spark computed over them, stays true),
    into one ``seg-{pid:05d}.warc.{kind}.gz`` of per-record gzip
    members (mtime=0 — segment bytes are a pure function of partition
    content), headed by a warcinfo record. A NULL record (a page with
    a NULL url has no ``WARC-Target-URI``, which a record must carry)
    is skipped and counted. Returns the manifest ({kind}_file,
    n_records, n_bytes, n_skipped) — the action that drives the write,
    one row per segment file.

    Scale: the writer is one ``mapInArrow`` over only the record column
    (read as binary), so upstream partitioning (e.g. the pipeline's
    (host, shard) salt) directly controls segment sizing; no shuffle is
    added here."""
    import os

    import pyarrow as pa
    from pyspark import TaskContext

    from webxtract.kernels import pylist

    names = [f"{kind}_file", "n_records", "n_bytes", "n_skipped"]

    def write(batches):  # noqa: ANN001, ANN202
        pid = TaskContext.get().partitionId()
        name = f"seg-{pid:05d}.warc.{kind}.gz"
        path = os.path.join(out_dir, name)
        fh = None
        n = skipped = 0
        for b in batches:
            if fh is None:
                os.makedirs(out_dir, exist_ok=True)
                fh = open(path, "wb")
                fh.write(
                    gzip.compress(wet_warcinfo_record(name, run_date_iso), mtime=0)
                )
            for rec in pylist(b.column(0)):
                if rec is None:
                    skipped += 1
                    continue
                fh.write(gzip.compress(rec, mtime=0))
                n += 1
        if fh is None:
            return
        fh.close()
        yield pa.RecordBatch.from_arrays(
            [pa.array([name])]
            + [pa.array([v], pa.int64()) for v in (n, os.path.getsize(path), skipped)],
            names,
        )

    record = F.col(f"{kind}_record").cast("binary")
    schema = f"{names[0]} string, n_records long, n_bytes long, n_skipped long"
    return df.select(record).mapInArrow(write, schema)


def write_wet_segments(df: DataFrame, out_dir: str, run_date_iso: str) -> DataFrame:
    """Distributed WET sink: ``wet_record`` strings -> ``.warc.wet.gz``
    segment files, one per task (``_write_segments``). Returns the
    manifest (wet_file, n_records, n_bytes, n_skipped)."""
    return _write_segments(df, "wet", out_dir, run_date_iso)


def warc_revisit_record(
    url: str,
    date_iso: str,
    refers_to_url: str,
    refers_to_date: str,
    digest: str,
) -> bytes:
    """A WARC/1.0 revisit record (identical-payload-digest profile):
    the archival dedup marker web archives write instead of storing an
    unchanged capture again — empty body, digest + pointer to the
    capture it duplicates."""
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: revisit\r\n"
        f"WARC-Record-ID: {_det_record_id(url, date_iso)}\r\n"
        f"WARC-Date: {date_iso}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/"
        "identical-payload-digest\r\n"
        f"WARC-Refers-To-Target-URI: {refers_to_url}\r\n"
        f"WARC-Refers-To-Date: {refers_to_date}\r\n"
        f"WARC-Payload-Digest: {digest}\r\n"
        "Content-Length: 0\r\n\r\n"
    ).encode("utf-8")
    return head + _CRLF2


def resolve_revisits(warc: DataFrame) -> DataFrame:
    """Fill revisit records' payloads from the response capture they
    duplicate, so downstream extraction sees every capture with
    content. Join key is (refers-to url, payload digest) against the
    frame's response records — digest equality is the revisit
    profile's own contract, so a dangling pointer (referred capture
    not in this frame) stays NULL and is reported via ``resolved``.

    Scale: only revisit rows (historically ~10-30% of an archive
    crawl, 0% of Common Crawl) enter the join, and the response side
    projects (url, digest, payload) once; the join shuffles payloads
    only for urls that actually have revisits — the minimal data
    motion any resolution could do. Response records pass through
    untouched."""
    resp = warc.where(F.col("record_type") == "response")
    rev = warc.where(F.col("record_type") == "revisit")
    src = resp.select(
        F.col("url").alias("r_url"),
        F.col("payload_digest").alias("r_digest"),
        F.col("payload").alias("r_payload"),
        F.col("content_type").alias("r_ctype"),
        F.col("charset").alias("r_charset"),
    ).dropDuplicates(["r_url", "r_digest"])
    resolved = (
        rev.join(
            src,
            (F.col("refers_to_url") == F.col("r_url"))
            & (F.col("payload_digest") == F.col("r_digest")),
            "left",
        )
        .select(
            *[
                F.coalesce(F.col(f"r_{m}"), F.col(c)).alias(c)
                if (m := {"payload": "payload", "content_type": "ctype",
                          "charset": "charset"}.get(c))
                else F.col(c)
                for c in warc.columns
            ],
            F.col("r_payload").isNotNull().alias("resolved"),
        )
    )
    passthrough = resp.select(*warc.columns, F.lit(True).alias("resolved"))
    return passthrough.unionByName(resolved)


def _json_str_expr(s: Column) -> Column:
    """RFC 8259-valid JSON string for ARBITRARY input: backslash and
    double-quote escaped first, then the three whitespace controls that
    legitimately appear in scraped head metadata (tab/newline/CR, e.g.
    a tab inside a <title>) escaped to their two-character forms, and
    every remaining C0 control stripped (rare, never
    information-bearing; stripping keeps the expression a flat replace
    chain instead of 27 \\u00XX cases). wat_record_expr is a public
    API over arbitrary columns, so validity cannot rely on upstream
    sanitization. Byte-mirrored by the DuckDB oracle
    (oracles.py wat_records ``esc`` CTE: same replaces in the same
    order, same RE2/Java char-class strip)."""
    e = F.replace(
        F.replace(s, F.lit("\\"), F.lit("\\\\")), F.lit('"'), F.lit('\\"')
    )
    e = F.replace(e, F.lit("\t"), F.lit("\\t"))
    e = F.replace(e, F.lit("\n"), F.lit("\\n"))
    e = F.replace(e, F.lit("\r"), F.lit("\\r"))
    e = F.regexp_replace(e, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    return F.concat(F.lit('"'), e, F.lit('"'))


def wat_record_expr(
    uri: Column, warc_ts: Column, title: Column, links: Column
) -> Column:
    """The WAT metadata record (the third Common-Crawl product next to
    WARC and WET): one ``WARC-Type: metadata`` record per page whose
    JSON payload carries the envelope header echo plus parsed HTML
    metadata — head title and the resolved outlink list. Reduced
    envelope (CC's full WAT adds HTTP headers and per-link attributes)
    but structurally faithful: Envelope -> WARC-Header-Metadata +
    Payload-Metadata -> HTML-Metadata -> {Head:{Title}, Links:[...]}.

    The JSON is built as a PURE string expression (no to_json — its
    serializer's escaping/field-order would have to match a second
    engine's; explicit concat makes both engines write the same bytes
    by construction). NULL title serializes as ``null``;
    ``WARC-Refers-To`` links back to the response capture by the same
    deterministic id derivation as the WET sink. Zero shuffles, zero
    Python — the whole record is one codegen'd concat per row."""
    d = F.coalesce(
        F.date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("1970-01-01T00:00:00Z"),
    )
    rec_id = _uuid_expr(
        F.md5(F.concat(uri, F.lit("\nmetadata\n"), d).cast("binary"))
    )
    refers = _uuid_expr(F.md5(F.concat(uri, F.lit("\n"), d).cast("binary")))
    payload = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":'),
        _json_str_expr(uri),
        F.lit(',"WARC-Date":"'), d,
        F.lit('"},"Payload-Metadata":{"HTML-Metadata":{"Head":{"Title":'),
        F.coalesce(_json_str_expr(title), F.lit("null")),
        F.lit('},"Links":['),
        F.array_join(
            F.transform(
                F.coalesce(links, F.array().cast("array<string>")),
                _json_str_expr,
            ),
            ",",
        ),
        F.lit("]}}}}"),
    )
    from webxtract.exprs import bind_once

    return bind_once(
        payload,
        lambda p: F.concat(
            F.lit("WARC/1.0" + _CRLF),
            F.lit("WARC-Type: metadata" + _CRLF),
            F.lit("WARC-Target-URI: "), uri, F.lit(_CRLF),
            F.lit("WARC-Date: "), d, F.lit(_CRLF),
            F.lit("WARC-Record-ID: "), rec_id, F.lit(_CRLF),
            F.lit("WARC-Refers-To: "), refers, F.lit(_CRLF),
            F.lit("Content-Type: application/json" + _CRLF),
            F.lit("Content-Length: "), F.octet_length(p).cast("string"),
            F.lit(_CRLF + _CRLF),
            p,
            F.lit(_CRLF + _CRLF),
        ),
    )


def write_wat_segments(df: DataFrame, out_dir: str, run_date_iso: str) -> DataFrame:
    """Distributed WAT sink — the metadata twin of write_wet_segments:
    ``wat_record`` strings -> ``.warc.wat.gz`` segment files, one per
    task (``_write_segments``). Returns the manifest (wat_file,
    n_records, n_bytes, n_skipped)."""
    return _write_segments(df, "wat", out_dir, run_date_iso)
