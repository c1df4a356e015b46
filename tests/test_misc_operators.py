"""syslog, multiline, gzip, move_fields, cache get, vectorized script."""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import functions as F

from beats_spark.operators import enrich as E
from beats_spark.operators import misc as MISC


def test_syslog_rfc3164(spark):
    df = spark.createDataFrame(
        [
            ("<13>Oct 11 22:14:15 web01 nginx[123]: upstream timed out",),
            ("<34>1 2003-10-11T22:14:15.003Z host1 app 9999 ID47 - boom happened",),
            ("not syslog at all {}",),
        ],
        "message string",
    )
    out = MISC.syslog(df).collect()
    r0 = out[0]
    assert r0.syslog.host_hostname == "web01"
    assert r0.syslog.process_name == "nginx"
    assert r0.syslog.process_pid == 123
    assert r0.syslog.message == "upstream timed out"
    assert r0.log_syslog_facility == 1 and r0.log_syslog_severity == 5
    r1 = out[1]
    assert r1.syslog.log_syslog_version == 1
    assert r1.syslog.host_hostname == "host1"
    assert r1.syslog.message == "boom happened"
    assert r1.log_syslog_facility == 4 and r1.log_syslog_severity == 2
    r2 = out[2]
    assert r2.syslog is None and "grok_parsing_error" in r2.flags


def test_multiline_after(spark):
    # continuation lines start with whitespace (classic stack trace):
    # pattern matches continuations, match=after
    rows = [
        ("f1", 0, "Exception in thread"),
        ("f1", 1, "  at Foo.bar"),
        ("f1", 2, "  at Baz.qux"),
        ("f1", 3, "INFO all good"),
        ("f2", 0, "single line"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = MISC.multiline_assemble(df, r"^\s+", negate=False, match="after")
    got = {(r.conv_id, r.first_line): r for r in out.collect()}
    assert got[("f1", 0)].message == "Exception in thread\n  at Foo.bar\n  at Baz.qux"
    assert got[("f1", 0)].n_lines == 3
    assert got[("f1", 3)].message == "INFO all good"
    assert got[("f2", 0)].message == "single line"


def test_multiline_count_semantics(spark):
    rows = [("f", i, f"line{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    # negate=True + pattern that matches nothing -> every line continues =>
    # one event per file
    out = MISC.multiline_assemble(df, r"^NEVER", negate=True, match="after")
    assert out.count() == 1
    assert out.first().n_lines == 6


def test_multiline_count_mode(spark):
    # count mode (multiline_config.go:75-79): every count_lines lines form
    # one event — mirrors filebeat/tests/system/test_multiline.py's
    # test_multiline_count shape (7 lines, count 3 -> events of 3,3,1)
    rows = [("f", i, f"line{i}") for i in range(7)] + [("g", 0, "solo")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = MISC.multiline_assemble(df, mode="count", count_lines=3)
    got = {(r.conv_id, r.first_line): r for r in out.collect()}
    assert got[("f", 0)].message == "line0\nline1\nline2"
    assert got[("f", 3)].message == "line3\nline4\nline5"
    assert got[("f", 6)].message == "line6" and got[("f", 6)].n_lines == 1
    assert got[("g", 0)].message == "solo"


def test_multiline_count_mode_requires_count(spark):
    df = spark.createDataFrame([("f", 0, "x")],
                               "conv_id string, turn_idx int, text string")
    import pytest

    with pytest.raises(ValueError, match="count_lines"):
        MISC.multiline_assemble(df, mode="count")
    with pytest.raises(ValueError, match="pattern"):
        MISC.multiline_assemble(df, mode="while_pattern")


def test_multiline_while_pattern(spark):
    # while_pattern: maximal runs of matching lines aggregate; every
    # non-matching line ships as its own event (reader/multiline/
    # while_pattern.go semantics)
    rows = [
        ("f", 0, "x first"),
        ("f", 1, "x second"),
        ("f", 2, "plain"),
        ("f", 3, "x third"),
        ("f", 4, "other"),
        ("f", 5, "also other"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = MISC.multiline_assemble(df, r"^x ", mode="while_pattern")
    got = sorted((r.first_line, r.message) for r in out.collect())
    assert got == [
        (0, "x first\nx second"),
        (2, "plain"),
        (3, "x third"),
        (4, "other"),
        (5, "also other"),
    ]


def test_multiline_while_pattern_negate(spark):
    # negate flips the run predicate: non-"x " lines aggregate
    rows = [
        ("f", 0, "a"), ("f", 1, "b"), ("f", 2, "x stop"), ("f", 3, "c"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = MISC.multiline_assemble(df, r"^x ", mode="while_pattern",
                                  negate=True)
    got = sorted((r.first_line, r.message) for r in out.collect())
    assert got == [(0, "a\nb"), (2, "x stop"), (3, "c")]


def test_multiline_timeout_breaks_event(spark):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        ("f", 0, "START req", base),
        ("f", 1, "  part1", base + dt.timedelta(seconds=1)),
        ("f", 2, "  part2", base + dt.timedelta(seconds=30)),  # > 5s idle
        ("f", 3, "  part3", base + dt.timedelta(seconds=31)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp")
    out = MISC.multiline_assemble(df, r"^\s+", timeout=5, ts_col="ts")
    got = sorted((r.first_line, r.message) for r in out.collect())
    assert got == [(0, "START req\n  part1"), (2, "  part2\n  part3")]


def test_multiline_flush_pattern_and_skip_newline(spark):
    # flush_pattern: a line matching it ENDS the event including itself
    rows = [
        ("f", 0, "begin"), ("f", 1, "cont END"), ("f", 2, "cont more"),
        ("f", 3, "tail"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = MISC.multiline_assemble(
        df, r"^cont|^tail", flush_pattern=r"END$", skip_newline=True)
    got = sorted((r.first_line, r.message) for r in out.collect())
    assert got == [(0, "begincont END"), (2, "cont moretail")]


def test_decompress_gzip_field(spark):
    payload = gzip.compress(b"hello compressed world")
    df = spark.createDataFrame(
        [(bytearray(payload),), (bytearray(b"not gzip"),), (None,)],
        "blob binary",
    )
    out = MISC.decompress_gzip_field(df, "blob", target="text").collect()
    assert out[0].text == "hello compressed world"
    assert out[1].text is None
    assert out[2].text is None


def test_compress_gzip_field_roundtrip_and_determinism(spark):
    df = spark.createDataFrame(
        [("round trips fine",), ("",), (None,)], "t string"
    )
    out = MISC.compress_gzip_field(df, "t", target="blob")
    back = MISC.decompress_gzip_field(out, "blob", target="t2").collect()
    assert [r.t2 for r in back] == ["round trips fine", "", None]
    # mtime=0 pins the gzip header — byte-identical to a local compress
    assert bytes(back[0].blob) == gzip.compress(
        b"round trips fine", mtime=0
    )


def test_move_fields_between_structs(spark):
    df = spark.createDataFrame([(1,)], "id int")
    df = df.withColumn("a", F.struct(F.lit("x").alias("p"), F.lit("y").alias("q")))
    df = df.withColumn("b", F.struct(F.lit("z").alias("r")))
    out = MISC.move_fields(df, ["p"], "a", "b").first()
    assert out.a.asDict() == {"q": "y"}
    assert out.b.asDict() == {"r": "z", "p": "x"}
    # hoist to top level
    up = MISC.move_fields(df, ["q"], "a", "").first()
    assert up.q == "y"
    # nest from top level
    down = MISC.move_fields(df.select("id"), ["id"], "", "meta").first()
    assert down.meta.asDict() == {"id": 1}


def test_cache_put_get_roundtrip_with_ttl(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    puts = spark.createDataFrame(
        [
            ("k1", "old", t0),
            ("k1", "new", t0 + datetime.timedelta(hours=2)),
            ("k2", "v2", t0),
        ],
        "key string, value string, ts timestamp",
    )
    cache = E.cache_put(puts, "key", "value")
    events = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "key string")
    got = {r.key: r.cached for r in MISC.cache_get(events, cache, "key", "cached").collect()}
    assert got == {"k1": "new", "k2": "v2", "k3": None}  # latest-wins + miss
    # TTL: entries older than 1h relative to t0+2h expire
    got2 = {
        r.key: r.cached
        for r in MISC.cache_get(
            events, cache, "key", "cached",
            ttl_seconds=3600, now_ts="2024-01-01 02:00:00",
        ).collect()
    }
    assert got2 == {"k1": "new", "k2": None, "k3": None}


def test_vectorized_script(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "n int, s string")

    def user_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"n2": pdf["n"] * 2, "s": pdf["s"].str.upper()})

    out = MISC.vectorized_script(df, user_fn, "n2 int, s string")
    rows = sorted(out.collect())
    assert [(r.n2, r.s) for r in rows] == [(2, "A"), (4, "B")]


def _dns_fixture(spark):
    events = spark.createDataFrame(
        [
            ("e1", "10.0.0.1", None),
            ("e2", "10.0.0.2", "pre.example"),
            ("e3", "10.9.9.9", None),   # present but unresolvable
            ("e4", None, None),          # null source: silent skip
        ],
        "id string, src_ip string, src_host string",
    )
    resolution = spark.createDataFrame(
        [
            ("10.0.0.1", ["one.example"]),
            ("10.0.0.2", ["two.example", "two-alt.example"]),
        ],
        "query string, answers array<string>",
    )
    return events, resolution


def test_dns_enrich_reverse_replace(spark):
    events, resolution = _dns_fixture(spark)
    out = E.dns_enrich(
        events, resolution, {"src_ip": "src_host"}, qtype="reverse",
        action="replace", tag_on_failure=["_dns_reverse_lookup_failed"],
    )
    rows = {r.id: r for r in out.collect()}
    assert rows["e1"].src_host == "one.example"
    assert rows["e2"].src_host == "two.example"        # PTR scalar = answers[0]
    assert rows["e3"].src_host == "pre.example" or rows["e3"].src_host is None
    # e3: miss keeps the old value (None here)
    assert rows["e3"].src_host is None
    assert rows["e4"].src_host is None
    tags = {r.id: r.tags for r in out.collect()}
    assert tags["e3"] == ["_dns_reverse_lookup_failed"]   # resolvable-but-absent
    assert tags["e4"] == []                               # null source: no failure
    assert tags["e1"] == []


def test_dns_enrich_reverse_append_merges_existing(spark):
    events, resolution = _dns_fixture(spark)
    out = E.dns_enrich(
        events, resolution, {"src_ip": "src_host"}, qtype="reverse",
        action="append",
    )
    rows = {r.id: r for r in out.collect()}
    assert rows["e1"].src_host == ["one.example"]          # old null -> [new]
    assert rows["e2"].src_host == ["pre.example", "two.example"]
    assert rows["e3"].src_host is None                     # miss + old null


def test_dns_enrich_a_type_returns_answer_array(spark):
    spark_events = spark.createDataFrame(
        [("e1", "one.example"), ("e2", "zzz.example")],
        "id string, host string",
    )
    resolution = spark.createDataFrame(
        [("one.example", ["10.0.0.1", "10.0.0.9"])],
        "query string, answers array<string>",
    )
    out = E.dns_enrich(
        spark_events, resolution, {"host": "host_ips"}, qtype="a",
        action="replace", tag_on_failure=["_dns_a_failed"],
    )
    rows = {r.id: r for r in out.collect()}
    assert rows["e1"].host_ips == ["10.0.0.1", "10.0.0.9"]
    assert rows["e2"].host_ips is None
    assert rows["e2"].tags == ["_dns_a_failed"]


def test_dns_enrich_duplicate_snapshot_keys_do_not_multiply(spark):
    events = spark.createDataFrame([("e1", "10.0.0.1")], "id string, src_ip string")
    resolution = spark.createDataFrame(
        [("10.0.0.1", ["b.example"]), ("10.0.0.1", ["a.example"])],
        "query string, answers array<string>",
    )
    out = E.dns_enrich(events, resolution, {"src_ip": "h"}, qtype="reverse")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].h == ["a.example"]  # deterministic: lowest answers row wins


def test_dns_enrich_rejects_bad_config(spark):
    events, resolution = _dns_fixture(spark)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="invalid dns lookup type"):
        E.dns_enrich(events, resolution, {"src_ip": "h"}, qtype="MX")
    with _pytest.raises(ValueError, match="invalid dns field action"):
        E.dns_enrich(events, resolution, {"src_ip": "h"}, action="merge")


def test_dns_enrich_query_snapshot_skips_ipv6(spark):
    """The registry query's resolver snapshot keys on the fourth IPv4
    octet; an IPv6 first token (kept by the convert lattice) has none and
    stays unresolved instead of failing the job under ANSI mode."""
    from beats_spark.queries import _dns_snapshot

    t = spark.createDataFrame(
        [("fe80::1",), ("10.0.0.3",), ("10.0.0.4",), (None,)], "ip string"
    )
    rows = _dns_snapshot(t).collect()
    assert [(r.query, r.answers) for r in rows] == [
        ("10.0.0.4", ["host-10-0-0-4.internal.example"])
    ]
