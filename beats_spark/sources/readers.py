"""Source readers — the filebeat reader chain, Spark-shaped.

The reference composes per-input reader chains (reference:
/root/reference/libbeat/reader/parser/parser.go:91-130): charset decode →
line split on a terminator → max-bytes limit → optional parsers (multiline,
ndjson, container, syslog) → include_message filter. Offsets per file feed
the registrar for resume (/root/reference/filebeat/input/filestream/
input.go:632-744).

Spark mapping: `spark.read.text` handles charset + line split natively
(lineSep/encoding options); file name + a per-file line number reproduce the
(source, offset) identity Beats tracks; everything downstream is the same
operators the rest of the engine uses (multiline_assemble, decode_json,
include/exclude_lines, truncate). Resume state is the engine's checkpoint
manifest — with Iceberg/Structured Streaming sources, snapshot/offset
tracking replaces all of this (see beats_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# The reference's full charset table (libbeat/reader/readfile/encoding/
# encoding.go:34-108), Beats names → JVM Charset names. The bidi-ordering
# iso8859-6e/6i/8e/8i variants are byte-identical to their base charmaps
# (ordering is a rendering concern), so they resolve to the base. The
# utf-16*-bom entries require a BOM in the reference; Java's "UTF-16"
# autodetects BOM (defaulting big-endian) and "x-UTF-16LE-BOM" is the
# LE-with-BOM codec.
ENCODINGS: dict[str, str] = {
    # default
    "nop": "UTF-8",
    "plain": "UTF-8",
    # utf-8 (JVM decode replaces invalid sequences with U+FFFD — the same
    # behavior the reference's validating utf8Encoding implements)
    "unicode-1-1-utf-8": "UTF-8",
    "utf-8": "UTF-8",
    "utf8": "UTF-8",
    # simplified chinese
    "gbk": "GBK",
    # 8-bit charmaps (bidi e/i variants → base bytes)
    "iso8859-6e": "ISO-8859-6",
    "iso8859-6i": "ISO-8859-6",
    "iso8859-8e": "ISO-8859-8",
    "iso8859-8i": "ISO-8859-8",
    "iso8859-1": "ISO-8859-1",
    "iso8859-2": "ISO-8859-2",
    "iso8859-3": "ISO-8859-3",
    "iso8859-4": "ISO-8859-4",
    "iso8859-5": "ISO-8859-5",
    "iso8859-6": "ISO-8859-6",
    "iso8859-7": "ISO-8859-7",
    "iso8859-8": "ISO-8859-8",
    "iso8859-9": "ISO-8859-9",
    "iso8859-10": "ISO-8859-10",
    "iso8859-13": "ISO-8859-13",
    "iso8859-14": "ISO-8859-14",
    "iso8859-15": "ISO-8859-15",
    "iso8859-16": "ISO-8859-16",
    # ibm codepages
    "cp437": "IBM437",
    "cp850": "IBM850",
    "cp852": "IBM852",
    "cp855": "IBM855",
    "cp858": "IBM00858",
    "cp860": "IBM860",
    "cp862": "IBM862",
    "cp863": "IBM863",
    "cp865": "IBM865",
    "cp866": "IBM866",
    "ebcdic-037": "IBM037",
    "ebcdic-1040": "IBM01140",  # reference maps this name to CodePage1140
    "ebcdic-1047": "IBM1047",
    # cyrillic
    "koi8r": "KOI8-R",
    "koi8u": "KOI8-U",
    # macintosh
    "macintosh": "x-MacRoman",
    "macintosh-cyrillic": "x-MacCyrillic",
    # windows
    "windows1250": "windows-1250",
    "windows1251": "windows-1251",
    "windows1252": "windows-1252",
    "windows1253": "windows-1253",
    "windows1254": "windows-1254",
    "windows1255": "windows-1255",
    "windows1256": "windows-1256",
    "windows1257": "windows-1257",
    "windows1258": "windows-1258",
    "windows874": "x-windows-874",
    # utf16 bom codecs: Java's "UTF-16" consumes the BOM and defaults
    # big-endian when absent — exactly utf16BOMBigEndian's contract; the
    # LE/plain variants resolve the same way since the BOM disambiguates
    "utf-16-bom": "UTF-16",
    "utf-16be-bom": "UTF-16",
    "utf-16le-bom": "UTF-16",
}

# Charsets whose encoded newline is not the raw 0x0A byte — the splittable
# line framing can't handle these, so they read whole-file (the reference
# makes the same call: "utf16 bom codecs (seekable data source required)",
# encoding.go:104; EBCDIC newline is 0x25).
_WHOLE_FILE_CHARSETS = {
    "UTF-16", "UTF-16BE", "UTF-16LE", "UTF-32", "UTF-32BE", "UTF-32LE",
    "IBM037", "IBM01140", "IBM1047",
}


def resolve_encoding(name: str) -> str:
    """Beats encoding name → JVM charset. Unknown names fall through
    verbatim (the reference's htmlindex fallback, encoding.go:118-127 —
    the JVM raises at scan time if the charset truly doesn't exist)."""
    return ENCODINGS.get(name.strip().lower(), name)


def _utf8_prefix(text: Column, max_bytes: int) -> Column:
    """The longest prefix of `text` within `max_bytes` UTF-8 bytes, cut at
    the last whole character."""
    b = F.encode(text, "UTF-8")

    def cont(pos: int) -> Column:  # a continuation byte, 0b10xxxxxx
        return F.substring(b, pos, 1).between(F.lit(b"\x80"), F.lit(b"\xbf"))

    # a character straddling the cut is dropped back to its lead byte,
    # at most three bytes before the first one past the cut
    m = max_bytes
    keep = (F.when(~cont(m + 1), m).when(~cont(m), m - 1)
            .when(~cont(m - 1), m - 2).otherwise(m - 3))
    return F.decode(F.substring(b, F.lit(1), keep), "UTF-8")


def read_lines(
    spark: SparkSession,
    path: str,
    encoding: str = "UTF-8",
    max_bytes: int | None = None,
) -> DataFrame:
    """Charset-decoded line reader with per-file offsets.

    Columns: source (file path), offset, text. max_bytes caps line length
    like the limit reader (readfile/limit.go), flagging truncated lines.

    `encoding` accepts any name from the reference's charset table
    (ENCODINGS above). UTF-8 reads through the splittable text source;
    every other charset routes through the CSV reader (the only built-in
    source that decodes arbitrary JVM charsets) configured as a pure line
    reader: \\x01 separator, quoting disabled, explicit one-column schema.
    Divergence on that path: fully blank lines are skipped (Univocity),
    and a literal \\x01 byte in a log line would split it — both are
    vanishingly rare in the log formats these charsets carry.

    The offset is (partition id × 2^33 + row-within-split), shuffle-free
    and strictly increasing within a file — the same byte-cursor semantics
    Beats' registrar actually persists (filestream tracks byte offsets,
    input.go:686), just not dense.
    """
    charset = resolve_encoding(encoding)
    offset = None
    if charset == "UTF-8":
        base = spark.read.text(path).select(
            F.input_file_name().alias("source"),
            F.col("value").alias("text"),
        )
    elif charset.upper() in _WHOLE_FILE_CHARSETS:
        # whole-file decode + line split: UTF-16/32 newlines are multi-byte
        # so no splittable line framing exists (one task per file — the
        # reference requires a seekable source for these codecs too)
        # F.decode shares the CSV reader's Spark-4 charset whitelist
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
        sep_pat = r"\r?\n"
        decoded = F.decode(F.col("content"), charset)
        lines = F.split(
            F.regexp_replace(decoded, f"(?:{sep_pat})$", ""), sep_pat
        )
        base = (
            spark.read.format("binaryFile")
            .load(path)
            .select(
                F.col("path").alias("source"),
                F.posexplode(lines).alias("_line_no", "text"),
            )
        )
        offset = F.col("_line_no").cast("long")
    else:
        # every other charset in the table is newline-transparent (0x0A
        # never appears inside a multi-byte sequence, and EBCDIC's 0x25
        # newline is handled by lineSep re-encoding) → the CSV reader is
        # the one built-in source that decodes arbitrary JVM charsets;
        # Spark 4 gates non-whitelisted names behind the legacy conf
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
        r = (
            spark.read.format("csv")
            .schema("text string")
            .option("encoding", charset)
            .option("sep", "\x01")
            .option("quote", "")
            .option("header", "false")
            .option("lineSep", "\n")
        )
        base = r.load(path).select(
            F.input_file_name().alias("source"),
            F.col("text"),
        )
    if offset is None:
        # monotonically_increasing_id = (partition_id << 33) + row-in-
        # partition; split partitions follow block order, so this is
        # strictly increasing within every file with ZERO shuffles
        offset = F.monotonically_increasing_id()
    df = base.withColumn("offset", offset)
    if max_bytes is not None:
        from beats_spark.operators.parse import add_flag

        too_long = F.octet_length("text") > max_bytes
        df = add_flag(df, too_long, "truncated")
        df = df.withColumn("text", F.when(too_long, _utf8_prefix(F.col("text"), max_bytes))
                           .otherwise(F.col("text")))
    return df.select("source", "offset", "text", *(
        ["flags"] if "flags" in df.columns else []
    ))


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: str = "map<string,string>",
    keys_under_root: bool = False,
) -> DataFrame:
    """NDJSON reader (readjson/json_config.go shape): one JSON doc per
    line → parsed column (or top-level columns with keys_under_root)."""
    lines = read_lines(spark, path)
    parsed = lines.withColumn("json", F.from_json("text", schema))
    if keys_under_root and schema != "map<string,string>":
        return parsed.select("source", "offset", "json.*")
    return parsed


def reader_chain(
    spark: SparkSession,
    path: str,
    multiline: dict | None = None,
    exclude_message: list[str] | None = None,
) -> DataFrame:
    """The composed chain, in parser.go's order: line → multiline →
    exclude_message."""
    df = read_lines(spark, path)
    if multiline:
        from beats_spark.operators.misc import multiline_assemble

        df = multiline_assemble(
            df,
            multiline.get("pattern"),
            negate=multiline.get("negate", False),
            match=multiline.get("match", "after"),
            file_col="source",
            offset_col="offset",
            line_col="text",
            max_lines=multiline.get("max_lines", 500),
            mode=multiline.get("type", "pattern"),
            count_lines=multiline.get("count_lines"),
            flush_pattern=multiline.get("flush_pattern"),
            skip_newline=multiline.get("skip_newline", False),
        ).select(
            F.col("source"),
            F.col("first_line").alias("offset"),
            F.col("message").alias("text"),
        )
    if exclude_message:
        from beats_spark.operators.filter import exclude_lines

        df = exclude_lines(df, exclude_message)
    return df
