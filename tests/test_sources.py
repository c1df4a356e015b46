"""Reader chain: lines+offsets, max_bytes, ndjson, multiline composition."""

from __future__ import annotations

import gzip
import json
import os

from beats_spark.sources import read_lines, read_ndjson, reader_chain


def _write(p, lines):
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_read_lines_default_is_scale_safe_cursor(spark, tmp_path):
    # the DEFAULT path must be the shuffle-free byte-cursor: no window
    # exchange in the plan, strictly increasing per-file ordering
    d = tmp_path / "logs"
    d.mkdir()
    _write(d / "a.log", ["l0", "l1", "l2"])
    _write(d / "b.log", ["m0", "m1"])
    df = read_lines(spark, str(d))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan
    by_src = {}
    for r in df.collect():
        by_src.setdefault(os.path.basename(r.source), []).append((r.offset, r.text))
    for src, rows in by_src.items():
        rows.sort()
        assert [t for _, t in rows] == sorted(t for _, t in rows)


def test_read_lines_max_bytes(spark, tmp_path):
    f = tmp_path / "x.log"
    _write(f, ["short", "y" * 100])
    out = sorted(read_lines(spark, str(f), max_bytes=10).collect())
    rows = {r.offset: r for r in out}
    assert rows[0].text == "short" and rows[0].flags == []
    assert rows[1].text == "y" * 10 and "truncated" in rows[1].flags
    # the cap counts UTF-8 bytes and cuts at the last whole character
    f2 = tmp_path / "e.log"
    _write(f2, ["é" * 10])
    for max_bytes, want in ((10, "é" * 5), (9, "é" * 4)):
        (row,) = read_lines(spark, str(f2), max_bytes=max_bytes).collect()
        assert row.text == want and "truncated" in row.flags


def test_read_ndjson(spark, tmp_path):
    f = tmp_path / "d.ndjson"
    _write(f, [json.dumps({"a": i, "b": f"v{i}"}) for i in range(3)])
    out = read_ndjson(spark, str(f), schema="a int, b string",
                      keys_under_root=True)
    rows = sorted((r.a, r.b) for r in out.collect())
    assert rows == [(0, "v0"), (1, "v1"), (2, "v2")]


def test_reader_chain_multiline_and_filters(spark, tmp_path):
    f = tmp_path / "trace.log"
    _write(f, [
        "ERROR boom",
        "  at a()",
        "  at b()",
        "INFO fine",
        "DEBUG noise",
    ])
    out = reader_chain(
        spark, str(f),
        multiline={"pattern": r"^\s+", "match": "after"},
        exclude_message=["DEBUG"],
    ).collect()
    msgs = sorted(r.text for r in out)
    assert msgs == ["ERROR boom\n  at a()\n  at b()", "INFO fine"]


def test_reader_chain_gzip_encoding(spark, tmp_path):
    # Spark's text source reads .gz transparently; charset decode applies
    f = tmp_path / "z.log.gz"
    with gzip.open(f, "wt", encoding="utf-8") as fh:
        fh.write("héllo wörld\nsecond\n")
    out = sorted(read_lines(spark, str(f)).collect())
    assert [r.text for r in out] == ["héllo wörld", "second"]


def test_read_lines_scalable_cursor(spark, tmp_path):
    # shuffle-free cursor, strictly increasing per file
    d = tmp_path / "big"
    d.mkdir()
    _write(d / "a.log", [f"a{i}" for i in range(100)])
    _write(d / "b.log", [f"b{i}" for i in range(100)])
    out = read_lines(spark, str(d)).collect()
    per = {}
    for r in out:
        per.setdefault(os.path.basename(r.source), []).append((r.offset, r.text))
    for src, rows in per.items():
        rows.sort()
        texts = [t for _, t in rows]
        assert texts == sorted(texts, key=lambda s: int(s[1:]))  # file order
        offs = [o for o, _ in rows]
        assert offs == sorted(set(offs))  # strictly increasing, unique


# --- charset matrix ---------------------------------------------------------
# One row per family of the reference's encoding table (libbeat/reader/
# readfile/encoding/encoding.go:34-108): (beats name, python codec for
# writing the fixture, sample text exercising the non-ASCII range).
CHARSET_MATRIX = [
    ("iso8859-1", "latin-1", "héllo ±"),
    ("iso8859-2", "iso8859_2", "příliš žluťoučký"),
    ("iso8859-5", "iso8859_5", "привет мир"),
    ("iso8859-7", "iso8859_7", "γειά σου"),
    ("iso8859-9", "iso8859_9", "günaydın"),
    ("iso8859-15", "iso8859_15", "€ costs"),
    ("windows1250", "cp1250", "złoty"),
    ("windows1251", "cp1251", "привет"),
    ("windows1252", "cp1252", "smart “quotes”"),
    ("windows1253", "cp1253", "αλφα"),
    ("windows1254", "cp1254", "şeker"),
    ("windows1255", "cp1255", "שלום"),
    ("windows1256", "cp1256", "مرحبا"),
    ("windows1257", "cp1257", "labdien ā"),
    ("windows1258", "cp1258", "đong"),
    ("windows874", "cp874", "สวัสดี"),
    ("cp437", "cp437", "café ß"),
    ("cp850", "cp850", "café"),
    ("cp852", "cp852", "áéíóú"),
    ("cp866", "cp866", "привет"),
    ("koi8r", "koi8_r", "привет"),
    ("koi8u", "koi8_u", "привіт"),
    ("gbk", "gbk", "你好世界"),
    ("macintosh", "mac_roman", "café π"),
    ("macintosh-cyrillic", "mac_cyrillic", "привет"),
    ("ebcdic-037", "cp037", "HELLO 123"),
    ("ebcdic-1040", "cp1140", "HELLO 123"),
]


def test_charset_matrix_roundtrip(spark, tmp_path):
    failures = []
    for i, (name, codec, sample) in enumerate(CHARSET_MATRIX):
        f = tmp_path / f"cs_{i}.log"
        lines = [f"plain ascii {i}", sample]
        f.write_bytes("\n".join(lines).encode(codec) + "\n".encode(codec))
        try:
            out = sorted(read_lines(spark, str(f), encoding=name).collect())
            got = [r.text for r in out]
            if got != lines:
                failures.append((name, got, lines))
        except Exception as e:  # noqa: BLE001 - collect per-charset result
            failures.append((name, "EXC", str(e)[:200]))
    assert not failures, failures


def test_charset_utf16_bom_variants(spark, tmp_path):
    lines = ["héllo wörld", "second ±"]
    body = "\n".join(lines) + "\n"
    cases = {
        "utf-16le-bom": b"\xff\xfe" + body.encode("utf-16-le"),
        "utf-16be-bom": b"\xfe\xff" + body.encode("utf-16-be"),
        "utf-16-bom": b"\xff\xfe" + body.encode("utf-16-le"),
    }
    for i, (name, raw) in enumerate(cases.items()):
        f = tmp_path / f"u16_{i}.log"
        f.write_bytes(raw)
        out = sorted(read_lines(spark, str(f), encoding=name).collect())
        assert [r.text for r in out] == lines, name


def test_read_lines_utf16_max_bytes(spark, tmp_path):
    # the whole-file charset path ends in the shared offset/max_bytes tail
    f = tmp_path / "u16.log"
    body = "short\n" + "y" * 100 + "\n"
    f.write_bytes(b"\xff\xfe" + body.encode("utf-16-le"))
    out = read_lines(spark, str(f), encoding="utf-16le-bom",
                     max_bytes=10).collect()
    rows = {r.offset: r for r in out}
    assert rows[0].text == "short" and rows[0].flags == []
    assert rows[1].text == "y" * 10 and "truncated" in rows[1].flags


def test_charset_unknown_name_passthrough(spark, tmp_path):
    from beats_spark.sources.readers import resolve_encoding

    # table hit, normalization, and the htmlindex-style passthrough
    assert resolve_encoding(" ISO8859-1 ") == "ISO-8859-1"
    assert resolve_encoding("plain") == "UTF-8"
    assert resolve_encoding("UTF-16LE") == "UTF-16LE"
