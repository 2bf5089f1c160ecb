"""Invalid UTF-8 at the Python row boundary (``webxtract.kernels``).

A string column can hold bytes that are not UTF-8: ``warc_to_pages``
casts a text/plain payload from binary to string whatever its charset.
Every row kernel reads such text as Spark's ``make_valid_utf8`` of it,
and the columns a kernel does not produce pass through byte for byte.
"""

import datetime as dt
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from webxtract import curation, dedup, multimodal
from webxtract.ops import rasterize
from webxtract.kernels import doc_rows, pylist

# surrogate, overlong, > U+10FFFF, truncated and lone bytes, next to
# valid two-, three- and four-byte sequences
_ATOMS = [
    b"\xed\xa0\x80", b"\xc0\xaf", b"\xe0\x80\xaf", b"\xf4\x90\x80\x80",
    b"\xf8\x88\x80\x80\x80", b"\xe2\x82", b"\xf0\x9f\x98", b"\x80", b"\xbf",
    b"\xff", b"\xfe", b"\xc2", b"\xe9", b"a", b" ", b"\n", b"\xc3\xa9",
    b"\xe2\x82\xac", b"\xf0\x9f\x98\x80",
]


def _fuzz(n: int, seed: int = 9) -> list[bytes]:
    rng = random.Random(seed)
    return [
        b"".join(
            rng.choice(_ATOMS) if rng.random() < 0.7 else bytes([rng.randrange(256)])
            for _ in range(rng.randrange(8))
        )
        for _ in range(n)
    ]


def _raw_frame(spark, texts):  # noqa: ANN001, ANN202
    """(doc_id, text, valid): ``text`` is the binary->string cast of
    each byte string, ``valid`` its ``make_valid_utf8``."""
    rows = [(i, None if t is None else bytearray(t)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id bigint, raw binary").select(
        "doc_id",
        F.col("raw").cast("string").alias("text"),
        F.make_valid_utf8(F.col("raw").cast("string")).alias("valid"),
    )


def test_reader_equals_make_valid_utf8(spark):
    """Through a kernel, a seeded fuzz table reads as Spark's
    ``make_valid_utf8``, valid and NULL rows included."""
    texts = _fuzz(3000) + [None, b"plain ascii", "café".encode()]
    df = _raw_frame(spark, texts).repartition(3)
    fields = [StructField("seen", StringType())]
    got = doc_rows(df, ["doc_id", "valid"], ["text"], fields, lambda: lambda t: [(t,)])
    rows = got.collect()
    assert len(rows) == len(texts)
    assert [r.doc_id for r in rows if r.seen != r.valid] == []


def test_reader_decodes_string_and_large_string():
    """Both Arrow string layouts (Spark ships ``large_string`` under
    ``spark.sql.execution.arrow.useLargeVarTypes``) take the rule."""
    assert pylist(pa.array(["a", None, "é"])) == ["a", None, "é"]
    raw = pa.array([b"caf\xe9", None, b"\xed\xa0\x80!"])
    for t, bt in ((pa.string(), pa.binary()), (pa.large_string(), pa.large_binary())):
        bad = pa.Array.from_buffers(t, len(raw), raw.cast(bt).buffers(), raw.null_count)
        assert pylist(bad) == ["caf\ufffd", None, "\ufffd\ufffd\ufffd!"]


PASSAGE = " ".join(f"w{i % 23} caf\xe9{i % 5} t{i % 7}" for i in range(60)).encode("latin-1")
DOCS = [
    b"lead in words " + PASSAGE + b" tail \xff one",
    b"other preamble \xed\xa0\x80 " + PASSAGE,
    PASSAGE + b" and a different ending here \xf0\x9f\x98",
    b"the recipe with a delicious ingredient caf\xe9 au lait \xc0\xaf",
    b"caf\xe9 caf\xe9 caf\xe9 caf\xe9 caf\xe9\ncaf\xe9 caf\xe9 caf\xe9",
    None,
]

KERNELS = {
    "repetition_signals": lambda d: curation.repetition_signals(d),
    "tag_topics_frame": lambda d: curation.tag_topics_frame(d),
    "bucket_counts": lambda d: curation.bucket_counts(d, n_buckets=16),
    "duplicate_chunks": lambda d: dedup.duplicate_chunks(
        d, boundary_mod=4, min_dup_tokens=3
    ),
    "dedup_chunks": lambda d: dedup.dedup_chunks(d, boundary_mod=4, min_dup_tokens=3),
    "doc_containment": lambda d: dedup.doc_containment(
        d, boundary_mod=4, min_tok=3, min_chunks=1
    ),
}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernels_read_invalid_text_as_make_valid_utf8(spark, name):
    df = _raw_frame(spark, DOCS).coalesce(1)
    raw = KERNELS[name](df.select("doc_id", "text")).collect()
    valid = KERNELS[name](df.select("doc_id", F.col("valid").alias("text"))).collect()
    assert raw
    assert sorted(map(tuple, raw)) == sorted(map(tuple, valid))


def test_normalize_text_pins_replacement(spark):
    """``normalize_text`` reads invalid text under the kernels' rule:
    the encoded surrogate is three U+FFFD, as ``make_valid_utf8``
    writes it, both counts are those of the repaired text, and a
    repaired row is ``changed``."""
    df = _raw_frame(spark, [b"caf\xe9 \xed\xa0\x80 \x01x\xff"]).select("doc_id", "text")
    r = curation.normalize_text(df).select(
        F.col("text_norm").cast("binary").alias("norm"),
        "changed", "n_chars_before", "n_chars_after",
    ).first()
    assert tuple(r) == (
        b"caf\xef\xbf\xbd \xef\xbf\xbd\xef\xbf\xbd\xef\xbf\xbd x\xef\xbf\xbd", True, 12, 11
    )
    # nothing to strip or compose: only the repair changed the row
    only = _raw_frame(spark, [b"caf\xe9"]).select("doc_id", "text")
    r = curation.normalize_text(only).select(
        F.col("text_norm").cast("binary").alias("norm"),
        "changed", "n_chars_before", "n_chars_after",
    ).first()
    assert tuple(r) == (b"caf\xef\xbf\xbd", True, 4, 4)


BAD_URL = b"http://caf\xe9.example/\xff"
BMP = b"BM" + b"x" * 3000
PDF = b"%PDF-1.4\n%%PAGE 1\none\n%%PAGE 2\ntwo"
MEDIA = {
    "normalize_media": lambda d: multimodal.normalize_media(d),
    "resize_images": lambda d: multimodal.resize_images(d),
    "sample_frames": lambda d: multimodal.sample_frames(d),
    "explode_pdf_pages": lambda d: rasterize.explode_pdf_pages(d, payload_col="payload"),
}


@pytest.mark.parametrize("name", sorted(MEDIA))
def test_media_kernels_carry_an_invalid_utf8_url(spark, name):
    """The media kernels and the page explode complete on a url holding
    invalid UTF-8 and return it byte-identical."""
    payload = PDF if name == "explode_pdf_pages" else BMP
    df = spark.createDataFrame(
        [(bytearray(BAD_URL), bytearray(payload))], "u binary, payload binary"
    ).select(F.col("u").cast("string").alias("url"), "payload")
    got = MEDIA[name](df).select(F.col("url").cast("binary")).collect()
    assert got and all(r[0] == BAD_URL for r in got)


ID_TEXT = (
    b"Ontario Driver's Licence\n\n"
    b"Driver licence issued under the laws of Ontario Canada\n\n"
    b"Full Name: M\xdcLLER, MAR\xcfE\n\nFirst Name: MAR\xcfE\n\nLast Name: M\xdcLLER\n\n"
    b"Document Number: M1234-12345-12345\n\nDate of Birth: 1990-04-05\n\n"
    b"Issue Date: 2022-01-05\n\nExpiry Date: 2027-06-29\n\nGender: F\n\n"
    b"Address: 900 Lakeshore Blvd, Caf\xe9 \xed\xa0\x80 Toronto ON\n\n"
    b"Country Code: CAN\n\nSPECIMEN \xff\xfe"
)

RULE_COLS = ["doc_type", "fake_detection", "doc_type_enum", "validation_results"]


def test_pipeline_reads_invalid_text_as_make_valid_utf8(spark):
    """``run_pipeline`` over a native-text page holding invalid UTF-8:
    the extracted text comes back byte-identical and every rule
    result equals that of the same page with ``make_valid_utf8``."""
    from webxtract.pipeline import run_pipeline

    ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    base = spark.createDataFrame(
        [("http://x.example.com/", ts, None, bytearray(ID_TEXT), "en")],
        "url string, warc_ts timestamp, html binary, raw binary, lang string",
    )
    text = F.col("raw").cast("string")
    cols = ["url", "warc_ts", "html", "lang"]
    raw = run_pipeline(base.select(*cols, text.alias("text"))).select(
        F.col("extracted_text").cast("binary").alias("bytes"), *RULE_COLS
    ).first()
    valid = run_pipeline(base.select(*cols, F.make_valid_utf8(text).alias("text"))).select(
        *RULE_COLS
    ).first()
    assert raw.bytes == ID_TEXT
    assert raw.doc_type.document_type == "ontario_drivers_license"
    assert [raw[c] for c in RULE_COLS] == [valid[c] for c in RULE_COLS]
