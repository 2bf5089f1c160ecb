"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side plumbing (schemas, magic-byte sniffing, the per-row
``mapInArrow`` kernels of ``kernels.doc_rows``, partitioning by media
kind) is real and tested; the actual codec kernels (convert, resize,
frame sampling) are STUBBED behind deterministic fakes because the
codec libraries (Pillow/ffmpeg/...) are not in this container —
mirroring the reference's own ``is_available()`` capability probes
(image_ocr.py:82-88).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
)

from webxtract.kernels import doc_rows

# magic-byte signatures (operator S2's sniffing, ocr.py:250-273,
# generalized beyond images)
MAGIC = {
    "png": b"\x89PNG\r\n\x1a\n",
    "jpeg": b"\xff\xd8\xff",
    "gif": b"GIF8",
    "bmp": b"BM",
    "webp_riff": b"RIFF",
    "tiff_le": b"II*\x00",
    "tiff_be": b"MM\x00*",
    "pdf": b"%PDF-",
    "wav_riff": b"RIFF",
    "mp3": b"ID3",
    "mp4_ftyp": b"ftyp",  # at offset 4
}

def sniff_media_expr():
    """Pure-expression magic-byte format sniff of ``payload`` (no Python)."""
    c = F.col("payload")
    head = F.substring(c, 1, 8)

    def starts(sig: bytes):
        return F.substring(c, 1, len(sig)) == F.lit(sig)

    fmt = (
        F.when(starts(MAGIC["png"]), "png")
        .when(starts(MAGIC["jpeg"]), "jpeg")
        .when(starts(MAGIC["gif"]), "gif")
        .when(starts(MAGIC["tiff_le"]) | starts(MAGIC["tiff_be"]), "tiff")
        .when(starts(MAGIC["pdf"]), "pdf")
        .when(starts(MAGIC["mp3"]), "mp3")
        .when(
            starts(MAGIC["wav_riff"]) & (F.substring(c, 9, 4) == F.lit(b"WAVE")),
            "wav",
        )
        .when(
            starts(MAGIC["wav_riff"]) & (F.substring(c, 9, 4) == F.lit(b"WEBP")),
            "webp",
        )
        .when(F.substring(c, 5, 4) == F.lit(b"ftyp"), "mp4")
        .when(starts(MAGIC["bmp"]), "bmp")
        .otherwise("unknown")
    )
    kind = (
        F.when(fmt.isin("png", "jpeg", "gif", "tiff", "webp", "bmp"), "image")
        .when(fmt.isin("wav", "mp3"), "audio")
        .when(fmt == "mp4", "video")
        .when(fmt == "pdf", "document")
        .otherwise("unknown")
    )
    return F.struct(
        kind.alias("media_kind"),
        fmt.alias("format"),
        F.coalesce(F.length(c).cast("long"), F.lit(0)).alias("n_bytes"),
        F.lit(-1).alias("width"),
        F.lit(-1).alias("height"),
    )


# ------------------------------------------------- S2: image normalize
# (reference ocr.py:250-273: sniff real format from magic bytes, convert
# TIFF/BMP -> PNG, mode -> RGB, pass PNG/JPEG/GIF/WEBP through)

try:  # capability probe — Pillow absent in this sandbox
    from PIL import Image as _PIL_Image  # type: ignore

    HAVE_PIL = True
except ImportError:  # pragma: no cover
    _PIL_Image = None
    HAVE_PIL = False

_PASSTHROUGH_FORMATS = {"png", "jpeg", "gif", "webp"}
_CONVERT_FORMATS = {"tiff", "bmp"}


def _convert_via_pil(payload: bytes) -> bytes:  # pragma: no cover
    import io

    img = _PIL_Image.open(io.BytesIO(payload))
    if img.mode != "RGB":
        img = img.convert("RGB")
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def _convert_stub(payload: bytes) -> bytes:
    """Deterministic fake TIFF/BMP->PNG conversion: format-correct PNG
    magic + a digest of the source bytes (real conversion needs Pillow,
    absent here — the registry swaps it in when importable)."""
    return MAGIC["png"] + b"NORM" + hashlib.sha256(payload).digest()[:16]


def normalize_image(payload: bytes, fmt: str) -> tuple[bytes, str]:
    """One image -> (normalized bytes, media_type): TIFF/BMP convert to
    PNG (Pillow when available, deterministic stub otherwise);
    PNG/JPEG/GIF/WEBP pass through with their sniffed media type —
    exactly the reference's normalize step (ocr.py:250-273)."""
    if fmt in _CONVERT_FORMATS:
        if HAVE_PIL:  # pragma: no cover
            try:
                return _convert_via_pil(payload), "image/png"
            except Exception:
                pass
        return _convert_stub(payload), "image/png"
    if fmt in _PASSTHROUGH_FORMATS:
        return payload, f"image/{fmt}"
    return payload, "application/octet-stream"


NORMALIZED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("media_type", StringType(), True),
    ]
)


def normalize_media(df: DataFrame) -> DataFrame:
    """S2 as a predicate-split pipeline: the cheap magic-byte sniff is a
    pure expression; ONLY rows whose sniffed format needs conversion
    (TIFF/BMP) enter the Python convert leg, one ``mapInArrow``
    (``kernels.doc_rows``) — everything else is expression-only
    passthrough. Narrow plan, no shuffle; the union mirrors the E4
    recomputation-prune shape."""
    meta = sniff_media_expr()
    src = df.select("url", "payload", meta["format"].alias("fmt"))
    needs_convert = F.col("fmt").isin(*_CONVERT_FORMATS)

    passthrough = src.filter(~needs_convert).select(
        "url",
        "payload",
        F.when(
            F.col("fmt").isin(*_PASSTHROUGH_FORMATS),
            F.concat(F.lit("image/"), F.col("fmt")),
        )
        .otherwise(F.lit("application/octet-stream"))
        .alias("media_type"),
    )

    def rows_of(payload: bytes | None, fmt: str) -> list[tuple]:
        return [normalize_image(payload or b"", fmt)]

    converted = doc_rows(
        src.filter(needs_convert), ["url"], ["payload", "fmt"],
        NORMALIZED_SCHEMA.fields[1:], lambda: rows_of,
    )
    return passthrough.unionByName(converted)


# ------------------------------------------------------- image resize


RESIZED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
    ]
)


def _resize_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize: PNG magic + an `RSZ{w}x{h}:` header +
    a digest of the source bytes — format-correct output whose bytes
    bind (source, target dims), reproducible by the DuckDB oracle."""
    return (
        MAGIC["png"]
        + f"RSZ{width}x{height}:".encode()
        + hashlib.sha256(payload).digest()[:16]
    )


def _resize_via_pil(payload: bytes, width: int, height: int) -> bytes:  # pragma: no cover
    import io

    img = _PIL_Image.open(io.BytesIO(payload))
    img = img.convert("RGB").resize((width, height))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def resize_images(df: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Batch image resize to a fixed (width, height) — the standard
    vision-model preprocessing step. Pillow-gated kernel; deterministic
    stub in this sandbox (codec libs absent). Narrow plan: scan -> one
    ``mapInArrow`` (``kernels.doc_rows``), no shuffle; ``url`` comes
    back exactly and an empty payload gives a NULL image."""

    def resize(payload: bytes) -> bytes:
        if HAVE_PIL:  # pragma: no cover
            try:
                return _resize_via_pil(payload, width, height)
            except Exception:
                pass
        return _resize_stub(payload, width, height)

    def rows_of(payload: bytes | None) -> list[tuple]:
        return [(resize(payload) if payload else None, width, height)]

    return doc_rows(df, ["url"], ["payload"], RESIZED_SCHEMA.fields[1:], lambda: rows_of)


# ---------------------------------------------------- video frame sample


FRAME_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("ts_sec", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ]
)


def _frame_count_stub(n_bytes: int, every_s: int, max_frames: int) -> int:
    """Deterministic duration model for the sandbox: 1 KiB of payload ~
    1 second of 'video'; sample one frame per every_s seconds, capped.
    (The ffmpeg kernel reads the real container duration instead.)"""
    duration_s = max(1, n_bytes // 1024)
    return max(1, min(max_frames, duration_s // every_s))


def sample_frames(df: DataFrame, every_s: int = 10, max_frames: int = 8) -> DataFrame:
    """Video -> one row per sampled frame (flatMap-shaped ``mapInArrow``
    via ``kernels.doc_rows``, like the S3 page explode). ffmpeg-gated
    kernel; the sandbox stub derives a deterministic frame count from
    payload size and emits JPEG-magic frames whose bytes bind (source,
    frame_no). Empty/null payloads yield zero rows."""

    def rows_of(payload: bytes | None) -> list[tuple]:
        if not payload:
            return []
        n = _frame_count_stub(len(payload), every_s, max_frames)
        return [
            (i, i * every_s,
             MAGIC["jpeg"] + b"\xe0" + hashlib.sha256(payload + b"|frame=%d" % i).digest()[:16])
            for i in range(n)
        ]

    return doc_rows(df, ["url"], ["payload"], FRAME_SCHEMA.fields[1:], lambda: rows_of)
