"""Frozen output of every module fileset (beats_spark/modules.py) over an
in-repo corpus: tests/golden/module_corpus.json.

The corpus holds, per fileset, realistic input lines written from the
fileset's own grok banks (JSON lines for the filesets that branch on the
first character, and one line no pattern matches), plus the output the
pipeline gave when the file was generated: the schema's simpleString and
the rows in input order, timestamps as UTC ISO strings with microseconds.
Filesets that take `timezone` are frozen twice: with no zone and with the
corpus' non-UTC zone.

Unlike tests/test_modules.py (the reference's golden files), this runs
without the reference tree, so any change to a fileset's columns, types or
values shows here. The pattern-coverage check keeps the corpus honest:
every first-stage pattern is the first match (Python `Grok`, search
semantics) of at least one line, and every chained bank matches at least
one of its inputs. Patterns that can never be a first match, because an
earlier pattern of the same bank accepts everything they do, are listed in
SHADOWED; each must still match a corpus line that an earlier pattern wins.
"""

from __future__ import annotations

import datetime
import inspect
import json
import math
import os

import pytest
from pyspark.sql import Row

from beats_spark import modules as M
from beats_spark.dissect import Dissector
from beats_spark.grok import Grok

CORPUS = os.path.join(os.path.dirname(__file__), "golden", "module_corpus.json")

with open(CORPUS) as _f:
    _DATA = json.load(_f)

FILESETS = sorted(_DATA["filesets"])


def _plain(v):
    """Collected value → JSON value: structs become positional lists (the
    schema string carries the names), timestamps UTC ISO strings."""
    if isinstance(v, Row):
        return [_plain(x) for x in v]
    if isinstance(v, datetime.datetime):
        # collect() gives naive local wall time; astimezone reads it as local
        return v.astimezone(datetime.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.%fZ")
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def run_fileset(spark, name: str, timezone: str | None) -> dict:
    """One fileset over its corpus input → {"schema", "rows"}."""
    entry = _DATA["filesets"][name]
    fn = getattr(M, name)
    if name == "redis_slowlog":
        df = spark.createDataFrame(
            [tuple(r) for r in entry["rows"]],
            "id long, ts_epoch long, duration_us long, args array<string>, "
            "role string")
    else:
        df = spark.createDataFrame([(s,) for s in entry["lines"]],
                                   "message string")
    kw = {"timezone": timezone} if timezone else {}
    out = fn(df, **kw)
    return {"schema": out.schema.simpleString(),
            "rows": [_plain(r) for r in out.collect()]}


def takes_timezone(name: str) -> bool:
    return "timezone" in inspect.signature(getattr(M, name)).parameters


# -- pattern coverage ----------------------------------------------------------


def _bank(patterns, definitions=None):
    return [Grok(p, definitions) for p in patterns]


def _first(bank, s):
    """(index, captures) of the first pattern of `bank` matching `s`."""
    if s is None:
        return None, None
    for i, g in enumerate(bank):
        got = g.grok(s)
        if got is not None:
            return i, got
    return None, None


def _json_field(*keys):
    def get(line):
        if not line.startswith("{"):
            return None
        d = json.loads(line)
        for k in keys:
            if d.get(k) is not None:
                return d[k]
        return None
    return get


# first-stage bank of each fileset that has one (pattern list, definitions)
FIRST_STAGE = {
    "apache_access": (M.APACHE_ACCESS_PATTERNS, None),
    "apache_error": (M.APACHE_ERROR_PATTERNS, M.APACHE_ERROR_DEFINITIONS),
    "system_syslog": (M.SYSLOG_PATTERNS, None),
    "nginx_access": (M.NGINX_ACCESS_PATTERNS, M.NGINX_ACCESS_DEFINITIONS),
    "redis_log": (M.REDIS_LOG_PATTERNS, M.REDIS_LOG_DEFINITIONS),
    "mysql_error": (M.MYSQL_ERROR_PATTERNS, M.MYSQL_ERROR_DEFINITIONS),
    "postgresql_log": (M.POSTGRESQL_ENTRY_PATTERNS,
                       M.POSTGRESQL_ENTRY_DEFINITIONS),
    "kafka_log": (M.KAFKA_LOG_PATTERNS, M.KAFKA_LOG_DEFINITIONS),
    "auditd_log": (M.AUDITD_LOG_PATTERNS, M.AUDITD_LOG_DEFINITIONS),
    "icinga_main": (M.ICINGA_MAIN_PATTERNS, M.ICINGA_MAIN_DEFINITIONS),
    "iis_access": (M.IIS_ACCESS_PATTERNS, None),
    "haproxy_log": (M.HAPROXY_LOG_PATTERNS, M.HAPROXY_LOG_DEFINITIONS),
    "postgresql_csv": (M.POSTGRESQL_ENTRY_PATTERNS,
                       M.POSTGRESQL_ENTRY_DEFINITIONS),
    "mongodb_log": (M.MONGODB_LOG_PATTERNS, None),
    "logstash_log": (M.LOGSTASH_LOG_PATTERNS, M.LOGSTASH_LOG_DEFINITIONS),
    "nats_log": (M.NATS_LOG_PATTERNS, M.NATS_LOG_DEFINITIONS),
    "santa_log": (M.SANTA_LOG_PATTERNS, M.SANTA_LOG_DEFINITIONS),
    "mysql_slowlog": (M.MYSQL_SLOWLOG_PATTERNS, M.MYSQL_SLOWLOG_DEFINITIONS),
    "elasticsearch_server": (M.ES_SERVER_PT_PATTERNS,
                             M.ES_SERVER_PT_DEFINITIONS),
    "elasticsearch_gc": (M.ES_GC_PATTERNS, M.ES_GC_DEFINITIONS),
    "elasticsearch_deprecation": (M.ES_DEPRECATION_PT_PATTERNS,
                                  M.ES_DEPRECATION_PT_DEFINITIONS),
    "system_auth": (M.AUTH_HEADER_PATTERNS, M.AUTH_HEADER_DEFINITIONS),
    "elasticsearch_slowlog": (M.ES_SLOWLOG_PT_PATTERNS,
                              M.ES_SLOWLOG_DEFINITIONS),
    "nginx_error": (M.NGINX_ERROR_PATTERNS, M.NGINX_ERROR_DEFINITIONS),
    "elasticsearch_audit": (M.ES_AUDIT_PT_PATTERNS, M.ES_AUDIT_PT_DEFINITIONS),
    "iis_error": (M.IIS_ERROR_PATTERNS, None),
    "logstash_slowlog": (M.LOGSTASH_SLOWLOG_PT_PATTERNS,
                         M.LOGSTASH_SLOWLOG_DEFINITIONS),
    "nginx_ingress_controller": (M.NGINX_INGRESS_PATTERNS,
                                 M.NGINX_INGRESS_DEFINITIONS),
    "icinga_startup": (M.ICINGA_STARTUP_PATTERNS,
                       {"GREEDYMULTILINE": "(.|\n)*"}),
    "icinga_debug": (M.ICINGA_DEBUG_PATTERNS, M.ICINGA_MAIN_DEFINITIONS),
    "pensando_dfw": (M.PENSANDO_DFW_PATTERNS, M.PENSANDO_DFW_DEFINITIONS),
}

# filesets whose first stage is not a grok bank: the JSON decoders, traefik
# (dissect first) and the structured redis.slowlog
NO_BANK = {"osquery_result", "traefik_access", "kibana_log", "kibana_audit",
           "redis_slowlog"}

# banks whose last pattern matches any line, so no line is left unmatched
CATCH_ALL = {"mysql_error"}

# (fileset, pattern index): an earlier pattern of the bank accepts every
# line this one does, so it is never a first match
SHADOWED = {
    # `"(?:%{WORD} ... HTTP/%{NUMBER}|-)?"` of pattern 1 also takes `"-"`
    ("apache_access", 2),
}


def _capture(fileset, key):
    patterns, defs = FIRST_STAGE[fileset]
    bank = _bank(patterns, defs)

    def get(line):
        _, got = _first(bank, line)
        return got.get(key) if got else None
    return get


def _nats_msg_info(line):
    info = _capture("nats_log", "nats.log.info")(line)
    _, got = _first(_bank(M.NATS_INFO_PATTERNS), info)
    return got.get("nats.log.msg.info") if got else None


_AUTH_MSG = _bank(M.AUTH_MESSAGE_PATTERNS)


def _auth_unmatched_message(line):
    msg = _capture("system_auth", "_temp.message")(line)
    return msg if _first(_AUTH_MSG, msg)[0] is None else None


_TRAEFIK = Dissector(M.TRAEFIK_DISSECT)


def _traefik_message(line):
    got = _TRAEFIK.dissect(line)
    return got.get("traefik.access.message") if got else None


def _ingress_upstream(line):
    lst = _capture("nginx_ingress_controller",
                   "nginx.ingress_controller.upstream_address_list")(line)
    return lst.replace('"', "").split(",")[-1].strip() if lst else None


# later banks of a chain: (fileset, patterns, definitions, line → bank input)
CHAINED = [
    ("mysql_error", M.MYSQL_ERROR_MSG_PATTERNS, M.MYSQL_ERROR_MSG_DEFINITIONS,
     _capture("mysql_error", "message")),
    ("postgresql_log", M.POSTGRESQL_LOG_PATTERNS, M.POSTGRESQL_LOG_DEFINITIONS,
     _capture("postgresql_log", "raw_message")),
    ("traefik_access", [M.TRAEFIK_MSG_PATTERN], None, _traefik_message),
    ("nats_log", M.NATS_INFO_PATTERNS, None,
     _capture("nats_log", "nats.log.info")),
    ("nats_log", M.NATS_MSG_PATTERNS, M.NATS_MSG_DEFINITIONS, _nats_msg_info),
    ("system_auth", M.AUTH_MESSAGE_PATTERNS, None,
     _capture("system_auth", "_temp.message")),
    ("system_auth", M.AUTH_PAM_PATTERNS, M.AUTH_PAM_DEFINITIONS,
     _auth_unmatched_message),
    ("elasticsearch_slowlog", M.ES_SLOWLOG_MSG_PATTERNS,
     M.ES_SLOWLOG_DEFINITIONS,
     _json_field("elasticsearch.slowlog.message", "message")),
    ("logstash_slowlog", M.LOGSTASH_SLOWLOG_EVENT_PATTERNS, None,
     _capture("logstash_slowlog", "message")),
    ("nginx_ingress_controller", M.NGINX_INGRESS_UPSTREAM_ADDR_PATTERNS,
     M.NGINX_INGRESS_UPSTREAM_ADDR_DEFINITIONS, _ingress_upstream),
]

# dual-format filesets: the corpus must carry JSON lines for them
DUAL_FORMAT = {"mongodb_log", "logstash_log", "elasticsearch_server",
               "elasticsearch_deprecation", "elasticsearch_slowlog",
               "elasticsearch_audit", "logstash_slowlog"}


def test_corpus_covers_every_fileset():
    public = {n for n, f in inspect.getmembers(M, inspect.isfunction)
              if f.__module__ == M.__name__ and not n.startswith("_")}
    assert set(FILESETS) == set(FIRST_STAGE) | NO_BANK
    assert set(FILESETS) <= public
    assert len(FILESETS) == 36
    for name in FILESETS:
        outs = _DATA["filesets"][name]["outputs"]
        assert set(outs) == ({"utc", "tz"} if takes_timezone(name) else {"utc"})
    assert sum(takes_timezone(n) for n in FILESETS) == 18
    assert _DATA["timezone"] not in ("UTC", "Etc/UTC", "Z")


def test_corpus_pattern_coverage():
    for name, (patterns, defs) in FIRST_STAGE.items():
        bank = _bank(patterns, defs)
        lines = _DATA["filesets"][name]["lines"]
        firsts = [_first(bank, s)[0] for s in lines]
        if name in CATCH_ALL:
            assert firsts[-1] == len(bank) - 1, f"{name}: catch-all unused"
        else:
            assert None in firsts, f"{name}: no non-matching line"
        for i, g in enumerate(bank):
            if (name, i) in SHADOWED:
                assert any(g.grok(s) is not None and f is not None and f < i
                           for s, f in zip(lines, firsts)), (name, i)
            else:
                assert i in firsts, f"{name}: pattern {i} is never first"
        if name in DUAL_FORMAT:
            assert any(s.startswith("{") for s in lines), name
    for name, patterns, defs, source in CHAINED:
        bank = _bank(patterns, defs)
        inputs = [source(s) for s in _DATA["filesets"][name]["lines"]]
        assert any(_first(bank, x)[0] is not None for x in inputs), name


@pytest.mark.parametrize("name", FILESETS)
def test_fileset_output_frozen(spark, name):
    want = _DATA["filesets"][name]["outputs"]
    zones = {"utc": None, "tz": _DATA["timezone"]}
    for key in want:
        got = run_fileset(spark, name, zones[key])
        assert got["schema"] == want[key]["schema"], (name, key)
        assert len(got["rows"]) == len(want[key]["rows"]), (name, key)
        for i, (g, w) in enumerate(zip(got["rows"], want[key]["rows"])):
            assert g == w, (name, key, i)
