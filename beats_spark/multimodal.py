"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side plumbing — schema, partitioning, UDF signatures, batch
shapes — is real and tested. The actual
codec work (JPEG decode, audio resample, video frame extraction) needs
codec libraries. `decode_media` parses dimensions straight from the
container bytes with stdlib struct; swapping in a real codec changes no
Spark plumbing.

(Beats has no media processing; the closest reference shapes are
detect_mime_type — /root/reference/libbeat/processors/actions/
detect_mime_type.go:39-40 — and the binary-field decoders
decode_base64_field/decompress_gzip_field. This module exists for the
training-data-pipeline mandate, not Beats parity.)
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("content_type", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_MAGIC = {
    b"\xff\xd8\xff": ("image", "image/jpeg"),
    b"\x89PNG": ("image", "image/png"),
    b"RIFF": ("audio", "audio/wav"),
    b"\x00\x00\x00": ("video", "video/mp4"),
    b"GIF8": ("image", "image/gif"),
}


def detect_media_type(df: DataFrame, content_col: str = "content",
                      target: str = "detected_type") -> DataFrame:
    """Magic-byte sniffing with built-in expressions (the detect_mime_type
    shape) — no Python, runs in codegen."""
    c = F.col(content_col)
    head = F.hex(F.substring(c, 1, 4))
    expr = F.lit("application/octet-stream")
    cases = [
        ("FFD8FF", "image/jpeg"),
        ("89504E47", "image/png"),
        ("47494638", "image/gif"),
        ("52494646", "audio/wav"),
        ("000000", "video/mp4"),
    ]
    out = None
    for magic, mime in cases:
        cond = head.startswith(magic)
        out = F.when(cond, mime) if out is None else out.when(cond, mime)
    return df.withColumn(target, out.otherwise(expr))


DECODED_SCHEMA = (
    "media_id long, kind string, byte_len int, width int, height int, "
    "channels int, ok boolean"
)

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_media_header(buf: bytes):
    """REAL container-header parse with stdlib struct — no codec library.

    Returns (mime, width, height, channels, ok). Dimensions come from the
    actual header bytes: PNG IHDR (big-endian u32 pair at offset 16, color
    type → channel count), GIF logical screen descriptor (little-endian u16
    pair at offset 6), JPEG marker walk to the first SOFn (height, width,
    component count), WAV fmt chunk (channel count, little-endian u16 at
    offset 22). MP4 is recognized by its ftyp box (dimensions live in the
    codec-specific sample description — out of header-parse scope, null).
    Unknown or truncated headers → ok=False, never a task failure.
    """
    try:
        if buf.startswith(b"\x89PNG\r\n\x1a\n") and len(buf) >= 26:
            w, h = struct.unpack(">II", buf[16:24])
            return "image/png", w, h, _PNG_CHANNELS.get(buf[25]), True
        if buf[:6] in (b"GIF87a", b"GIF89a") and len(buf) >= 10:
            w, h = struct.unpack("<HH", buf[6:10])
            return "image/gif", w, h, 3, True
        if buf.startswith(b"\xff\xd8"):
            pos = 2
            while pos + 10 <= len(buf) and buf[pos] == 0xFF:
                marker = buf[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2  # standalone markers carry no length
                    continue
                seglen = struct.unpack(">H", buf[pos + 2:pos + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", buf[pos + 5:pos + 9])
                    return "image/jpeg", w, h, buf[pos + 9], True
                pos += 2 + seglen
            return "image/jpeg", None, None, None, False
        if (
            buf[:4] == b"RIFF"
            and buf[8:12] == b"WAVE"
            and buf[12:16] == b"fmt "
            and len(buf) >= 24
        ):
            return "audio/wav", None, None,\
                struct.unpack("<H", buf[22:24])[0], True
        if len(buf) >= 12 and buf[4:8] == b"ftyp":
            return "video/mp4", None, None, None, True
    except (struct.error, IndexError):
        pass
    return None, None, None, None, False


def decode_media(df: DataFrame) -> DataFrame:
    """Parse media headers via mapInPandas (Arrow batch iterator — constant
    memory per task regardless of partition size; binary payloads never
    materialize on the driver).

    Width/height/channels come straight from PNG/GIF/JPEG/WAV container
    bytes (parse_media_header): no codec library needed, environment-
    independent and oracle-able. Rows the parser cannot read come back
    ok=False, never a task failure.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, kind, buf in zip(pdf["media_id"], pdf["kind"], pdf["content"]):
                if buf is None:
                    recs.append((mid, kind, 0, None, None, None, False))
                    continue
                buf = bytes(buf)
                _, w, h, c, ok = parse_media_header(buf)
                recs.append((mid, kind, len(buf), w, h, c, ok))
            yield pd.DataFrame(
                recs,
                columns=["media_id", "kind", "byte_len", "width", "height",
                         "channels", "ok"],
            )

    return df.mapInPandas(run, DECODED_SCHEMA)


def media_width(did: int) -> int:
    """Planted image width for synthesized media — the SQL oracle
    recomputes `16 + (doc_id * 37) % 480` from doc_id alone, so the value
    the header PARSER extracts from real bytes is independently checkable."""
    return 16 + (did * 37) % 480


def media_height(did: int) -> int:
    return 16 + (did * 53) % 360


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table from the documents table: REAL container
    headers (valid PNG IHDR / GIF screen descriptor / JPEG SOF0 / WAV fmt /
    MP4 ftyp built with struct) carrying doc_id-derived dimensions,
    followed by the zlib-compressed text as an incompressible body — gives
    the pipeline binary columns whose header metadata is genuinely parsed
    back out, without shipping real media.

    Layout by doc_id % 5: 0=JPEG (components 1 when doc_id%10==0 else 3),
    1=PNG (color type 2/6 by doc_id parity → 3/4 channels), 2=WAV
    (channels 1+doc_id%2), 3=MP4, 4=GIF. Dimensions: media_width/height."""

    def build(did: int, text: str) -> tuple[str, bytes]:
        w, h = media_width(did), media_height(did)
        body = zlib.compress(str(text).encode())
        m = did % 5
        if m == 0:  # JPEG: SOI + SOF0 with (precision, h, w, ncomp)
            ncomp = 1 if did % 10 == 0 else 3
            sof = (
                b"\xff\xc0"
                + struct.pack(">H", 8 + 3 * ncomp)
                + b"\x08"
                + struct.pack(">HH", h, w)
                + bytes([ncomp])
            )
            for c in range(ncomp):
                sof += bytes([c + 1, 0x11, 0])
            return "image", b"\xff\xd8" + sof + body
        if m == 1:  # PNG: signature + IHDR chunk
            colortype = 2 if did % 2 == 0 else 6
            ihdr = (
                struct.pack(">I", 13)
                + b"IHDR"
                + struct.pack(">II", w, h)
                + bytes([8, colortype, 0, 0, 0])
                + b"\x00\x00\x00\x00"  # CRC not validated by the parser
            )
            return "image", b"\x89PNG\r\n\x1a\n" + ihdr + body
        if m == 2:  # WAV: RIFF/WAVE + canonical PCM fmt chunk
            ch = 1 + did % 2
            fmt = b"fmt " + struct.pack(
                "<IHHIIHH", 16, 1, ch, 8000, 8000 * ch * 2, ch * 2, 16
            )
            hdr = (
                b"RIFF"
                + struct.pack("<I", 36 + len(body))
                + b"WAVE"
                + fmt
                + b"data"
                + struct.pack("<I", len(body))
            )
            return "audio", hdr + body
        if m == 3:  # MP4: ftyp box
            return "video", (
                struct.pack(">I", 20)
                + b"ftypisom"
                + b"\x00\x00\x02\x00"
                + b"isom"
                + body
            )
        return "image", b"GIF89a" + struct.pack("<HH", w, h) + body

    mimes = {0: "image/jpeg", 1: "image/png", 2: "audio/wav",
             3: "video/mp4", 4: "image/gif"}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                kind, payload = build(did, text)
                rows.append(
                    (did, kind, payload, (f"doc-{did}", mimes[did % 5]))
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content", "meta"])

    return docs.mapInPandas(run, MEDIA_SCHEMA)
