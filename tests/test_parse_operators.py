"""Spark-side parse operator tests over the derived transcript table."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.data.transcripts import load_transcripts
from beats_spark.operators import parse as P

from .conftest import SF_SMOKE

HERE = os.path.dirname(__file__)

LOGFMT_TOK = 'level=%{level} ts=%{ts} caller=%{caller} msg="%{msg}" value=%{value|long} took=%{took}ms'
APACHE_GROK = (
    r"%{IPV4:client.ip} %{USER:ident} %{USER:auth} \[%{TIMESTAMP_ISO8601:time}\] "
    r'"%{WORD:method} %{URIPATH:path} HTTP/%{NUMBER:version}" '
    r"%{INT:status:int} %{INT:size:long}"
)


@pytest.fixture(scope="module")
def tdf(spark):
    return load_transcripts(spark, SF_SMOKE).cache()


def test_dissect_logfmt(tdf):
    logfmt = tdf.filter(F.col("text").startswith("level="))
    out = P.dissect(logfmt, LOGFMT_TOK, field="text", target_prefix="parsed")
    n = logfmt.count()
    parsed = out.filter(F.col("parsed").isNotNull())
    assert parsed.count() == n  # every logfmt row parses
    row = parsed.select("parsed.*").first()
    assert row.level in ("INFO", "WARN", "ERROR")
    assert isinstance(row.value, int)
    assert row.took.isdigit()
    # no failure flags on this slice
    assert out.filter(F.array_contains("flags", P.DISSECT_FAIL_FLAG)).count() == 0


def test_dissect_flags_failures(tdf):
    out = P.dissect(tdf, LOGFMT_TOK, field="text", target_prefix="parsed")
    failed = out.filter(F.array_contains("flags", P.DISSECT_FAIL_FLAG))
    ok = out.filter(F.col("parsed").isNotNull())
    assert failed.count() + ok.count() == tdf.count()
    # corrupt rows always fail
    assert (
        failed.filter(F.col("text").startswith("!!corrupt")).count()
        == tdf.filter(F.col("text").startswith("!!corrupt")).count()
    )


def test_dissect_golden_invalid_ip_matches_with_null_key(spark):
    # a typed key that does not convert is NULL inside a matched struct;
    # the row is not a parse failure (the golden corpus case)
    with open(os.path.join(HERE, "golden/dissect_corpus.json")) as fh:
        case, = [c for c in json.load(fh)
                 if c["name"] == "type conversion ip rejects invalid"]
    df = spark.createDataFrame([(case["msg"],)], "text string")
    row, = P.dissect(df, case["tok"], field="text").collect()
    assert row.dissect.asDict() == case["expected"] == {"ip": None, "t": "x"}
    assert row.flags == [] and row.error is None


def test_dissect_dynamic_renders_typed_values_as_spark_strings(spark):
    df = spark.createDataFrame([("host web1 TRUE 0x10 1e20",), ("x",)],
                               "text string")
    out = P.dissect(df, "%{*k} %{&k} %{flag|boolean} %{n|long} %{d|double}",
                    field="text")
    rows = out.collect()
    assert rows[0].dissect == {"host": "web1", "flag": "true", "n": "16",
                               "d": "1.0E20"}
    assert rows[0].flags == []
    assert rows[1].dissect is None and rows[1].flags == [P.DISSECT_FAIL_FLAG]


def test_grok_apache(tdf):
    apache = tdf.filter(F.col("text").startswith("10.0."))
    out = P.grok(apache, APACHE_GROK, field="text", target_prefix="g")
    assert out.filter(F.col("g").isNull()).count() == 0
    row = out.select("g.*").first()
    assert row.client_ip.startswith("10.0.")
    assert row.status in (200, 301, 500)
    assert isinstance(row.size, int)
    assert row.method == "GET"


def test_grok_bank_first_match_wins(tdf):
    out = P.grok(
        tdf,
        [APACHE_GROK, r"level=%{LOGLEVEL:level} %{GREEDYDATA:rest}",
         r"user %{INT:uid:long} did %{WORD:action}"],
        field="text",
        target_prefix="g",
    )
    # all three template families parse; only corrupt rows fail
    failed = out.filter(F.col("g").isNull())
    assert failed.count() == tdf.filter(F.col("text").startswith("!!corrupt")).count()
    # apache rows must have been claimed by pattern 1, not the others
    apache = out.filter(F.col("text").startswith("10.0.")).select("g.*").first()
    assert apache.client_ip is not None and apache.level is None


def test_decode_json_fields(tdf):
    plain = tdf.filter(F.col("text").startswith("user "))
    step = P.dissect(plain, "user %{uid|long} did %{action} with props %{props}",
                     field="text", target_prefix="p")
    step = step.withColumn("props_raw", F.col("p.props"))
    out = P.decode_json_fields(step, "props_raw", target="props")
    row = out.select("props").first()
    assert row.props["k"] is not None and row.props["k"].isdigit()


def test_go_layout_to_java():
    # bare '2' is Go's unpadded day-of-month; it must survive the '2006'/'02'
    # rewrites and map to 'd' (redis layout regression, ADVICE r2)
    assert P.go_layout_to_java("2 Jan 2006 15:04:05.999") == \
        "d MMM yyyy HH:mm:ss.SSS"
    assert P.go_layout_to_java("02 Jan 2006 15:04:05") == "dd MMM yyyy HH:mm:ss"
    assert P.go_layout_to_java("2006-01-02T15:04:05Z07:00") == \
        "yyyy-MM-dd'T'HH:mm:ssXXX"
    assert P.go_layout_to_java("Jan _2 15:04:05") == "MMM d HH:mm:ss"


def test_timestamp_unpadded_day(spark):
    # day-2 dates through the redis layout: '2 Jan' (unpadded) must parse to
    # day 2, padded '27 Dec' unaffected
    df = spark.createDataFrame(
        [("2 Jan 2019 01:02:03.004",), ("27 Dec 2018 11:19:18.874",)],
        "raw string",
    )
    out = P.timestamp(df, "raw", ["2 Jan 2006 15:04:05.999"], target="t")
    rows = out.select("t").collect()
    assert (rows[0].t.day, rows[0].t.month) == (2, 1)
    assert (rows[1].t.day, rows[1].t.hour) == (27, 11)


def test_timestamp_parse(spark):
    df = spark.createDataFrame(
        [("2024-03-05 06:07:08",), ("1709618828",), ("bogus",)], "raw string"
    )
    out = P.timestamp(df, "raw", ["2006-01-02 15:04:05", "UNIX"], target="t")
    rows = out.select("t").collect()
    assert rows[0].t.year == 2024
    assert rows[1].t.year == 2024
    assert rows[2].t is None


def test_convert_and_ip_validation(spark):
    df = spark.createDataFrame(
        [("42", "10.0.0.1"), ("x", "999.999.1.1")], "n string, ip string"
    )
    out = P.convert(df, [{"from": "n", "to": "n_int", "type": "long"},
                         {"from": "ip", "type": "ip"}])
    rows = out.collect()
    assert rows[0].n_int == 42 and rows[0].ip == "10.0.0.1"
    assert rows[1].n_int is None and rows[1].ip is None


def test_convert_ignore_missing(spark):
    df = spark.createDataFrame([("42",)], "n string")
    spec = [{"from": "missing", "type": "long"},
            {"from": "n", "to": "n_int", "type": "long"}]
    out = P.convert(df, spec, ignore_missing=True)
    assert out.columns == ["n", "n_int"] and out.first().n_int == 42
    with pytest.raises(ValueError, match="'missing'"):
        P.convert(df, spec)


def test_decode_duration(spark):
    df = spark.createDataFrame(
        [("1h30m",), ("250ms",), ("2s",),
         # regression: seconds directly preceded by a minutes component —
         # the old (?<![mun]) lookbehind extracted 0 ('1m30s') or nothing
         # ('1m3s') instead of the real seconds value
         ("1m30s",), ("1m3s",), ("4h59m30s997ms",), ("1.5s",)],
        "d string",
    )
    out = df.transform(lambda d: P.decode_duration(d, "d", "ms_val", unit="ms"))
    vals = [r.ms_val for r in out.collect()]
    assert vals == [5400000.0, 250.0, 2000.0,
                    90000.0, 63000.0,
                    4 * 3600000.0 + 59 * 60000.0 + 30000.0 + 997.0,
                    1500.0]


def test_extract_and_base64(spark):
    df = spark.createDataFrame([("a-b-c", "aGVsbG8=")], "s string, b string")
    out = P.extract_field(df, "s", "-", 1, "tok")
    out = P.decode_base64_field(out, "b", "decoded")
    row = out.first()
    assert row.tok == "b" and row.decoded == "hello"


def test_kv_splits_and_dedups(spark):
    from beats_spark.operators.parse import kv

    df = spark.createDataFrame(
        [(1, "a=1 b=two c='quoted' noequals d=last"),
         (2, None),
         (3, "a=first a=second")],
        "id long, s string",
    )
    out = {r["id"]: r["m"] for r in
           kv(df, "s", r"\s+", r"=", target="m").collect()}
    assert out[1] == {"a": "1", "b": "two", "c": "'quoted'", "d": "last"}
    assert out[2] is None
    assert out[3] == {"a": "first"}  # first duplicate wins


def test_kv_lookaround_splits(spark):
    # the auditd splits: values may contain spaces; split only before a
    # token that is itself key=... shaped
    from beats_spark.operators.parse import kv

    df = spark.createDataFrame(
        [(1, 'op=PAM:session grantors=pam_keyinit,pam_limits acct="root"')],
        "id long, s string",
    )
    out = kv(df, "s", r"\s+(?=[^\s]+=)", r"=", target="m").collect()[0]["m"]
    assert out == {"op": "PAM:session",
                   "grantors": "pam_keyinit,pam_limits", "acct": '"root"'}


def test_kv_via_compiler(spark):
    from beats_spark.compiler import compile_pipeline

    prog = compile_pipeline([
        {"kv": {"field": "s", "field_split": r"\s+", "value_split": "=",
                "target_field": "kvmap"}},
    ])
    df = spark.createDataFrame([(1, "x=1 y=2")], "id long, s string")
    row = prog(df).collect()[0]
    assert row["kvmap"] == {"x": "1", "y": "2"}


def test_grok_chain_matches_chained_grok(spark):
    """grok_chain (one Arrow exchange) must be row-for-row identical to the
    equivalent sequence of grok() calls — including unmatched rows, null
    inputs, the only_if_unmatched gate, and failure flags."""
    rows = [
        ("2024-01-02T03:04:05 host sshd[42]: Accepted password for alice",),
        ("2024-01-02T03:04:05 host sshd[43]: garbled inner payload",),
        ("completely unparseable line",),
        (None,),
    ]
    df = spark.createDataFrame(rows, ["message"])
    header = (r"%{TIMESTAMP_ISO8601:ts} %{NOTSPACE:host} "
              r"%{NOTSPACE:proc}\[%{INT:pid:int}\]: %{GREEDYDATA:rest}")
    inner = r"Accepted %{WORD:method} for %{USER:user}"
    fallback = r"garbled %{WORD:kind} %{GREEDYDATA:tail}"

    chained = P.grok(df, header, field="message", target_prefix="h")
    chained = chained.withColumn("_rest0", F.col("h")["rest"])
    chained = P.grok(chained, inner, field="_rest0",
                     target_prefix="m", flag_failures=False)
    chained = chained.withColumn(
        "_rem", F.when(F.col("m").isNull(), F.col("_rest0")))
    chained = P.grok(chained, fallback, field="_rem",
                     target_prefix="p", flag_failures=False)

    fused = P.grok_chain(df, [
        {"patterns": header, "target": "h"},
        {"patterns": inner, "target": "m", "input": ("h", "rest")},
        {"patterns": fallback, "target": "p", "input": ("h", "rest"),
         "only_if_unmatched": "m"},
    ], field="message")

    cols = ["message", "h.ts", "h.host", "h.proc", "h.pid", "h.rest",
            "m.method", "m.user", "p.kind", "p.tail", "flags", "error"]
    a = [tuple(r) for r in chained.select(*cols).collect()]
    b = [tuple(r) for r in fused.select(*cols).collect()]
    assert a == b
    # flags: exactly the two non-header rows carry the grok failure flag
    flagged = fused.filter(F.array_contains("flags", P.GROK_FAIL_FLAG)).count()
    assert flagged == 2
