"""community_id / registered_domain / decode_xml parity tests.

community_id vectors come from the reference's own test suites
(/root/reference/libbeat/processors/communityid/communityid_test.go:46-127,
libbeat/common/flowhash/communityid_test.go) — published Community ID v1
spec vectors. registered_domain cases mirror
registered_domain_test.go semantics via the bundled PSL snapshot.
decode_xml cases are the reference decoder's table tests
(libbeat/processors/decode_xml/decode_xml_test.go).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from beats_spark.operators.network import community_id, registered_domain
from beats_spark.operators.parse import decode_xml


def _flow(spark, **over):
    base = dict(source_ip="128.232.110.120", source_port=34855,
                destination_ip="66.35.250.204", destination_port=80,
                transport="TCP", icmp_type=None, icmp_code=None)
    base.update(over)
    return spark.createDataFrame(
        [Row(**base)],
        "source_ip string, source_port int, destination_ip string, "
        "destination_port int, transport string, icmp_type int, icmp_code int",
    )


def _cid(df, **kw):
    kw.setdefault("icmp_type", "icmp_type")
    kw.setdefault("icmp_code", "icmp_code")
    return community_id(df, **kw).select("community_id").first()[0]


class TestCommunityID:
    def test_reference_vector_tcp(self, spark):
        assert _cid(_flow(spark)) == "1:LQU9qZlK+B5F3KDmev6m5PMibrg="

    def test_reference_vector_seed(self, spark):
        assert _cid(_flow(spark), seed=123) == "1:hTSGlFQnR58UCk+NfKRZzA32dPg="

    def test_symmetry(self, spark):
        fwd = _cid(_flow(spark))
        rev = _cid(_flow(spark, source_ip="66.35.250.204", source_port=80,
                         destination_ip="128.232.110.120",
                         destination_port=34855))
        assert fwd == rev

    def test_icmp_one_way(self, spark):
        got = _cid(_flow(spark, transport="icmp", icmp_type=3, icmp_code=3))
        assert got == "1:KF3iG9XD24nhlSy4r1TcYIr5mfE="

    def test_icmp_without_typecode(self, spark):
        got = _cid(_flow(spark, transport="icmp"))
        assert got == "1:PAE85ZfR4SbNXl5URZwWYyDehwU="

    def test_no_port_protocol(self, spark):
        df = _flow(spark, transport="igmp", source_port=None,
                   destination_port=None)
        assert _cid(df) == "1:D3t8Q1aFA6Ev0A/AO4i9PnU3AeI="

    def test_numeric_protocol_string(self, spark):
        df = _flow(spark, transport="2", source_port=None,
                   destination_port=None)
        assert _cid(df) == "1:D3t8Q1aFA6Ev0A/AO4i9PnU3AeI="

    def test_invalid_cases_null(self, spark):
        assert _cid(_flow(spark, source_ip="999.1.1.1")) is None
        assert _cid(_flow(spark, source_port=123456)) is None
        assert _cid(_flow(spark, transport="xyz")) is None

    def test_existing_target_kept(self, spark):
        df = _flow(spark).withColumn("community_id", F.lit("1:keepme="))
        assert _cid(df) == "1:keepme="


class TestRegisteredDomain:
    CASES = [
        ("www.google.com", "google.com", "com", "www"),
        ("google.com", "google.com", "com", None),
        ("a.b.example.co.uk", "example.co.uk", "co.uk", "a.b"),
        ("github.io", None, "github.io", None),          # domain IS a suffix
        ("user.github.io", "user.github.io", "github.io", None),
        ("www.ck", "www.ck", "ck", None),                # exception rule
        ("foo.www.ck", "www.ck", "ck", "foo"),
        ("foo.bar.ck", "foo.bar.ck", "bar.ck", None),    # wildcard *.ck
        ("foo.localhost", "foo.localhost", "localhost", None),  # default `*`
        ("WWW.Example.COM", "Example.COM", "COM", "WWW"),  # case preserved
        ("com", None, "com", None),
    ]

    def test_cases(self, spark):
        df = spark.createDataFrame(
            [(d,) for d, *_ in self.CASES], "domain string"
        )
        out = registered_domain(
            df, "domain", target="rd", subdomain_target="sub",
            etld_target="etld",
        ).collect()
        got = {r["domain"]: (r["rd"], r["etld"], r["sub"]) for r in out}
        for dom, rd, etld, sub in self.CASES:
            assert got[dom] == (rd, etld, sub), dom

    def test_null_and_malformed(self, spark):
        df = spark.createDataFrame(
            [(None,), ("",), ("a..b.com",)], "domain string"
        )
        out = registered_domain(df, "domain", target="rd").collect()
        assert all(r["rd"] is None for r in out)

    def test_custom_rules(self, spark):
        df = spark.createDataFrame([("x.y.internal",)], "domain string")
        rules = {"exact": {"y.internal"}, "wildcards": set(),
                 "exceptions": set()}
        out = registered_domain(df, "domain", target="rd",
                                suffix_rules=rules).first()
        assert out["rd"] == "x.y.internal"


CATALOG = (
    '<catalog><book seq="1"><author>William H. Gaddis</author>'
    "<title>The Recognitions</title>"
    "<review>One of the great seminal American novels of the 20th century."
    "</review></book></catalog>"
)


class TestDecodeXML:
    def _decode(self, spark, xml, **kw):
        df = spark.createDataFrame([(xml,)], "message string")
        kw.setdefault("target", "xml")
        row = decode_xml(df, "message", **kw).first()
        return row

    def test_catalog_book(self, spark):
        row = self._decode(spark, CATALOG)
        obj = json.loads(row["xml"])
        assert obj == {
            "catalog": {"book": {
                "author": "William H. Gaddis",
                "title": "The Recognitions",
                "review": "One of the great seminal American novels of the "
                          "20th century.",
                "seq": "1",
            }}
        }

    def test_attrs_and_text(self, spark):
        row = self._decode(spark, '<title lang="en">Hi</title>')
        assert json.loads(row["xml"]) == {
            "title": {"lang": "en", "#text": "Hi"}
        }

    def test_repeated_elements_array(self, spark):
        row = self._decode(spark, "<l><i>a</i><i>b</i><i>c</i></l>")
        assert json.loads(row["xml"]) == {"l": {"i": ["a", "b", "c"]}}

    def test_to_lower(self, spark):
        row = self._decode(spark, "<Root><Item>v</Item></Root>", to_lower=True)
        assert json.loads(row["xml"]) == {"root": {"item": "v"}}

    def test_overwrites_field_by_default(self, spark):
        df = spark.createDataFrame([("<a>v</a>",)], "message string")
        row = decode_xml(df, "message").first()
        assert json.loads(row["message"]) == {"a": "v"}

    def test_malformed_sets_error(self, spark):
        row = self._decode(spark, "<unclosed>")
        assert row["xml"] is None
        assert "error decoding XML" in row["error"]["message"]

    def test_ignore_failure(self, spark):
        df = spark.createDataFrame([("<bad",)], "message string")
        row = decode_xml(df, "message", target="xml",
                         ignore_failure=True).first()
        assert row["xml"] is None
        assert "error" not in row.asDict()

    def test_declared_schema(self, spark):
        row = self._decode(
            spark, CATALOG,
            schema="struct<catalog:struct<book:struct<author:string,seq:string>>>",
        )
        assert row["xml"]["catalog"]["book"]["author"] == "William H. Gaddis"
        assert row["xml"]["catalog"]["book"]["seq"] == "1"

    def test_compiler_registration(self, spark):
        from beats_spark.compiler import compile_pipeline

        prog = compile_pipeline([
            {"decode_xml": {"field": "message", "target_field": "x",
                            "to_lower": True}},
        ])
        df = spark.createDataFrame([("<A>v</A>",)], "message string")
        assert json.loads(prog(df).first()["x"]) == {"a": "v"}

    def test_compiler_network_registration(self, spark):
        from beats_spark.compiler import compile_pipeline

        prog = compile_pipeline([
            {"registered_domain": {"field": "host", "target_field": "rd"}},
        ])
        df = spark.createDataFrame([("www.example.com",)], "host string")
        assert prog(df).first()["rd"] == "example.com"


WINEVENT_XML = (
    "<Event xmlns='http://schemas.microsoft.com/win/2004/08/events/event'>"
    "<System><Provider Name='Microsoft-Windows-Security-Auditing' "
    "Guid='{54849625-5478-4994-a5ba-3e3b0328c30d}'/>"
    "<EventID>4672</EventID><Version>0</Version><Level>0</Level>"
    "<Task>12548</Task><Opcode>0</Opcode>"
    "<Keywords>0x8020000000000000</Keywords>"
    "<TimeCreated SystemTime='2021-03-23T09:56:13.137310000Z'/>"
    "<EventRecordID>11303</EventRecordID>"
    "<Correlation ActivityID='{ffb23523-1f32-0000-c335-b2ff321fd701}'/>"
    "<Execution ProcessID='652' ThreadID='4660'/>"
    "<Channel>Security</Channel><Computer>vagrant</Computer><Security/>"
    "</System><EventData>"
    "<Data Name='SubjectUserSid'>S-1-5-18</Data>"
    "<Data Name='SubjectUserName'>SYSTEM</Data>"
    "</EventData><RenderingInfo Culture='en-US'>"
    "<Message>Special privileges assigned to new logon.\r\n\r\nSubject:</Message>"
    "<Level>Information</Level><Task>Special Logon</Task><Opcode>Info</Opcode>"
    "<Channel>Security</Channel>"
    "<Provider>Microsoft Windows security auditing.</Provider>"
    "<Keywords><Keyword>Audit Success</Keyword></Keywords>"
    "</RenderingInfo></Event>"
)


class TestDecodeXMLWineventlog:
    """Mappings pinned to the reference's processor_test.go vector
    (decode_xml_wineventlog/processor_test.go:32-118) and the winmeta
    fallback tables (winlogbeat/sys/winevent/winmeta.go:30-63)."""

    def _decode(self, spark, xml, **kw):
        from beats_spark.operators.parse import decode_xml_wineventlog

        df = spark.createDataFrame([(xml,)], "evt_xml string")
        return decode_xml_wineventlog(df, "evt_xml", **kw).first()

    def test_reference_vector(self, spark):
        row = self._decode(spark, WINEVENT_XML)
        w = row["winlog"]
        assert w["provider_name"] == "Microsoft-Windows-Security-Auditing"
        assert w["provider_guid"] == "{54849625-5478-4994-a5ba-3e3b0328c30d}"
        assert w["event_id"] == "4672"
        assert w["record_id"] == 11303
        assert w["computer_name"] == "vagrant"
        assert w["channel"] == "Security"
        assert w["outcome"] == "success"          # 0x8020... & AuditSuccess
        assert w["level"] == "information"
        assert w["task"] == "Special Logon"
        assert w["opcode"] == "Info"
        assert w["keywords"] == ["Audit Success"]
        assert w["activity_id"] == "{ffb23523-1f32-0000-c335-b2ff321fd701}"
        assert w["process_pid"] == 652 and w["process_thread_id"] == 4660
        assert w["time_created"] == "2021-03-23T09:56:13.137310000Z"
        assert w["event_data"]["SubjectUserSid"] == "S-1-5-18"
        assert "\r\n" not in w["message"]          # windows line endings removed
        # ECS mirror columns (processor.go fields():139-157)
        assert row["event_code"] == "4672"
        assert row["event_kind"] == "event"
        assert row["event_provider"] == "Microsoft-Windows-Security-Auditing"
        assert row["event_action"] == "Special Logon"
        assert row["host_name"] == "vagrant"
        assert row["event_outcome"] == "success"
        assert row["log_level"] == "information"

    def test_raw_value_fallback_tables(self, spark):
        xml = (
            "<Event><System><Provider Name='P'/><EventID>1</EventID>"
            "<Level>2</Level><Task>0</Task><Opcode>1</Opcode>"
            "<Keywords>0x10000000000000</Keywords>"
            "<Channel>App</Channel><Computer>h</Computer></System></Event>"
        )
        w = self._decode(spark, xml)["winlog"]
        assert w["level"] == "error"           # winmeta Levels[2]
        assert w["opcode"] == "Start"          # winmeta Opcodes[1]
        assert w["task"] == "None"             # winmeta Tasks[0]
        assert w["outcome"] == "failure"       # AuditFailure mask
        assert w["keywords"] == ["Audit Failure"]

    def test_malformed_sets_error(self, spark):
        row = self._decode(spark, "<Event><broken")
        assert row["winlog"]["event_id"] is None
        assert "error decoding XML" in row["error"]["message"]

    def test_compiler_registration(self, spark):
        from beats_spark.compiler import compile_pipeline

        prog = compile_pipeline([
            {"decode_xml_wineventlog": {"field": "evt_xml"}},
        ])
        df = spark.createDataFrame([(WINEVENT_XML,)], "evt_xml string")
        assert prog(df).first()["event_code"] == "4672"


GOLDEN_FLOW_DIR = "/root/reference/libbeat/common/flowhash/testdata/golden"


@pytest.mark.skipif(not os.path.exists(GOLDEN_FLOW_DIR),
                    reason=f"reference tree unavailable: {GOLDEN_FLOW_DIR}")
@pytest.mark.parametrize("log", [
    "tcp.pcap.log", "udp.pcap.log", "sctp.pcap.log", "icmp.pcap.log",
    "icmp6.pcap.log", "ipv6.pcap.log",
])
def test_community_id_golden_pcap_flows(spark, log):
    """Every flow in the reference's own golden pcap logs (v4 AND v6,
    tcp/udp/sctp/icmp/icmpv6) hashes to the reference's community id."""
    rows = []
    with open(f"{GOLDEN_FLOW_DIR}/{log}") as f:
        for ln in f:
            parts = ln.strip().split(" | ")
            if len(parts) != 3 or parts[1] == "<not IP>":
                continue
            src, dst, proto, a, b = parts[2].split()
            proto = int(proto)
            icmp = proto in (1, 58)
            rows.append((
                src, dst, str(proto),
                None if icmp else int(a), None if icmp else int(b),
                int(a) if icmp else None, int(b) if icmp else None,
                parts[1],
            ))
    assert rows
    df = spark.createDataFrame(
        rows,
        "source_ip string, destination_ip string, transport string, "
        "source_port int, destination_port int, it int, ic int, "
        "expected string",
    )
    out = community_id(df, icmp_type="it", icmp_code="ic")
    got = out.select("community_id", "expected").collect()
    bad = [r for r in got if r["community_id"] != r["expected"]]
    assert not bad, bad[:5]


def test_community_id_vectors(spark):
    """The in-repo vector file: the published spec vectors plus IPv4, IPv6
    (every textual form, malformed ones NULL), mixed-width pairs, named and
    numeric protocols, bidirectional and one-way ICMP/ICMPv6 with missing
    type or code, both endpoint orders, seeds 0 and 123, bad ports and IPs."""
    with open(os.path.join(os.path.dirname(__file__), "golden",
                           "community_id_vectors.json")) as f:
        vectors = json.load(f)["vectors"]
    assert len(vectors) >= 40
    cols = ["source_ip", "destination_ip", "transport", "source_port",
            "destination_port", "icmp_type", "icmp_code"]
    bad = []
    for seed in sorted({v["seed"] for v in vectors}):
        rows = [v for v in vectors if v["seed"] == seed]
        df = spark.createDataFrame(
            [tuple(v[c] for c in cols) for v in rows],
            "source_ip string, destination_ip string, transport string, "
            "source_port int, destination_port int, icmp_type int, "
            "icmp_code int",
        )
        got = community_id(df, icmp_type="icmp_type", icmp_code="icmp_code",
                           seed=seed).select("community_id").collect()
        bad += [(v, r[0]) for v, r in zip(rows, got)
                if r[0] != v["community_id"]]
    assert not bad, bad[:5]
