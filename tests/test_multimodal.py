"""Multimodal plumbing: binary columns, mapInPandas decode/explode stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import beats_spark.multimodal as M

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(40)
    return M.synthesize_media(docs).cache()


def test_media_schema_and_kinds(media):
    assert media.schema == M.MEDIA_SCHEMA
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_detect_media_type_builtin(media):
    out = M.detect_media_type(media)
    bad = out.filter(
        ((F.col("kind") == "image") & ~F.col("detected_type").startswith("image/"))
        | ((F.col("kind") == "audio") & (F.col("detected_type") != "audio/wav"))
        | ((F.col("kind") == "video") & (F.col("detected_type") != "video/mp4"))
    )
    assert bad.count() == 0


def test_decode_media_header_roundtrip(media):
    """Default decode = REAL header parse: every synthesized container's
    planted dimensions/channels come back out of the BYTES."""
    rows = {r.media_id: r for r in M.decode_media(media).collect()}
    assert all(r.ok for r in rows.values())
    for mid, r in rows.items():
        if mid % 5 in (0, 1, 4):  # jpeg / png / gif
            assert r.kind == "image"
            assert r.width == M.media_width(mid)
            assert r.height == M.media_height(mid)
        elif mid % 5 == 2:  # wav: channels from the fmt chunk
            assert r.kind == "audio"
            assert (r.width, r.height) == (None, None)
            assert r.channels == 1 + mid % 2
        else:  # mp4: recognized, dims out of header scope
            assert r.kind == "video"
            assert (r.width, r.height, r.channels) == (None, None, None)


def test_parse_media_header_corrupt_and_truncated():
    assert M.parse_media_header(b"garbage")[-1] is False
    assert M.parse_media_header(b"\x89PNG\r\n\x1a\nxx")[-1] is False
    # JPEG with no SOF before the buffer ends → unparsed, not a crash
    assert M.parse_media_header(b"\xff\xd8\xff\xe0\x00\x04ab")[-1] is False
