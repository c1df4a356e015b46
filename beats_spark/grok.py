"""Grok pattern-bank compiler.

Beats ships grok patterns inside filebeat module ingest pipelines which
Elasticsearch executes (e.g. reference
filebeat/module/apache/access/ingest/pipeline.yml:10-18: a list of
alternative grok expressions tried in order, the first that matches wins).
We re-express that as a compiler: each `%{SYNTAX:semantic:type}` expression
expands recursively against a pattern bank into a Python regex with named
groups, and a bank of alternatives compiles to ONE first-match-wins regex
executed vectorized with `pandas.Series.str.extract`. The scalar
`Grok.grok` (one `re.search` per pattern) is the reference it must match.

The builtin pattern table below is written from the publicly documented
grok pattern semantics (logstash-patterns-core is Apache-2.0 public
knowledge); it is a subset sufficient for log-line parsing, extensible via
`pattern_definitions`.
"""

from __future__ import annotations

import re

import pandas as pd

# Builtin grok patterns (public grok semantics; subset + extensible).
BUILTIN_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r"(?s:.*)",
    "INT": r"[+-]?(?:[0-9]+)",
    "NONNEGINT": r"\b[0-9]+\b",
    "POSINT": r"\b[1-9][0-9]*\b",
    "NUMBER": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "BASE16NUM": r"(?:0[xX])?[0-9A-Fa-f]+",
    "BASE16FLOAT": r"\b[+-]?(?:0[xX])?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b",
    "MONGO3_SEVERITY": r"\w",
    "MONGO3_COMPONENT": r"(?:-|\w+)",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"[a-zA-Z0-9._-]+",
    "EMAILADDRESS": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%[0-9A-Za-z_]+)?",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "PATH": r"(?:/[^\s?#]*)+",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "MONTH": r"\b(?:[Jj]an(?:uary|uar)?|[Ff]eb(?:ruary|ruar)?|[Mm](?:a|ä)?r(?:ch|z)?|[Aa]pr(?:il)?|[Mm]a(?:y|i)?|[Jj]un(?:e|i)?|[Jj]ul(?:y|i)?|[Aa]ug(?:ust)?|[Ss]ep(?:tember)?|[Oo](?:c|k)?t(?:ober)?|[Nn]ov(?:ember)?|[Dd]e(?:c|z)(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?)",
    # no lookarounds (the upstream definition guards against digit context;
    # our bank patterns anchor or delimit TIME, and RE2 — which executes the
    # identical regex in the DuckDB oracles — has no lookaround support)
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo?(?:rmation)?|INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "QUOTEDSTRING": r"(?:\"(?:[^\"\\]|\\.)*\"|'(?:[^'\\]|\\.)*')",
    "QS": r"%{QUOTEDSTRING}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:process.name}(?:\[%{POSINT:process.pid:int}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:log.syslog.facility.code:int}.%{NONNEGINT:log.syslog.priority:int}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    # RFC-5424 structural pieces (reference module pipelines reference these
    # names; full 5424 parsing also exists as operators/misc.syslog)
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    "SYSLOG5424SD": r"\[%{DATA}\]+",
    "SYSLOG5424BASE": (
        r"<%{NONNEGINT:syslog5424_pri}>%{NONNEGINT:syslog5424_ver} "
        r"(?:%{TIMESTAMP_ISO8601:syslog5424_ts}|-) "
        r"(?:%{IPORHOST:syslog5424_host}|-) "
        r"(?:%{SYSLOG5424PRINTASCII:syslog5424_app}|-) "
        r"(?:%{SYSLOG5424PRINTASCII:syslog5424_proc}|-) "
        r"(?:%{SYSLOG5424PRINTASCII:syslog5424_msgid}|-)"
    ),
    "SYSLOG5424LINE": r"%{SYSLOG5424BASE} +(?:%{SYSLOG5424SD:syslog5424_sd}|-|) +%{GREEDYDATA:syslog5424_msg}",
    # days / timestamps beyond ISO
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "TZ": r"(?:[APMCE][SD]T|UTC)",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "TIMESTAMP": r"%{TIMESTAMP_ISO8601}",
    # URIs
    "URIPROTO": r"[A-Za-z](?:[A-Za-z0-9+\-.]+)+",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # MAC addresses
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    # paths
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]+)+",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "TTY": r"/dev/(?:pts|tty(?:[pq])?)(?:\w+)?(?:/\w+)?",
    # java
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVAFILE": r"(?:[a-zA-Z$_0-9. -]+)",
    "JAVALOGMESSAGE": r"(?:.*)",
    # multiline tail used by the system/elasticsearch module pipelines
    "GREEDYMULTILINE": r"(?s:(?:.|\n)*)",
    # apache httpd (classic logstash names; COMMONAPACHELOG/COMBINEDAPACHELOG
    # are what the reference module docs and VERDICT name-check)
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} "
        r"\[%{HTTPDATE:timestamp}\] \"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response:int} (?:%{NUMBER:bytes:long}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "HTTPD20_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] "
        r"(?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:message}"
    ),
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[(?:%{WORD:module})?:?"
        r"%{LOGLEVEL:loglevel}\] \[pid %{POSINT:pid:long}(?::tid %{INT:tid:long})?\]"
        r"(?: \(%{POSINT:proxy_errorcode}\)%{DATA:proxy_message}:)?"
        r"(?: \[client %{IPORHOST:clientip}(?::%{POSINT:clientport:int})?\])?"
        r"(?: %{DATA:errorcode}:)? %{GREEDYDATA:message}"
    ),
    "HTTPD_ERRORLOG": r"(?:%{HTTPD20_ERRORLOG}|%{HTTPD24_ERRORLOG})",
}


# -- the convert type lattice (libbeat/processors/convert/config.go:59-82) ---
# One syntax per type, written in ASCII classes only: `\d`, `\s`, `\w` and
# case folding differ between Python's `re` and Java's regex. The scalar
# `_convert_scalar` and the Column form `operators.parse.convert_col` both
# gate on it, so they accept the same strings. An integer is a sign (group 1)
# and decimal or 0x-hex digits (group 2: the hex digits after leading
# zeros), blanks around allowed; a float is the decimal syntax Python and
# Java share, or inf/infinity/nan; an ip is grok's IPV6|IPV4.


def _nocase(*words: str) -> str:
    return "|".join(
        "".join(f"[{c.lower()}{c.upper()}]" if c.isalpha() else c for c in w)
        for w in words
    )


_INT_SYNTAX = r"[ \t]*([+-]?)(?:0[xX]0*([0-9A-Fa-f]+)|[0-9]+)[ \t]*"
_FLOAT_SYNTAX = (
    r"[ \t]*(?:[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    rf"|[+-]?(?:{_nocase('inf', 'infinity')})|{_nocase('nan')})[ \t]*"
)
CONVERT_SYNTAX: dict[str, str] = {
    "integer": _INT_SYNTAX,
    "long": _INT_SYNTAX,
    "float": _FLOAT_SYNTAX,
    "double": _FLOAT_SYNTAX,
    "boolean": _nocase("1", "t", "true", "0", "f", "false"),
    "ip": f"{BUILTIN_PATTERNS['IPV6']}|{BUILTIN_PATTERNS['IPV4']}",
}
_SCALAR_SYNTAX = {t: re.compile(rf"(?:{p})\Z") for t, p in CONVERT_SYNTAX.items()}
_INT_BOUND = {"integer": 2**31, "long": 2**63}


def _convert_scalar(v, dtype: str | None):
    """The scalar reference of the lattice: `v` as `dtype`, or None when
    `v` lacks the type's syntax or leaves its range."""
    if v is None or dtype not in _SCALAR_SYNTAX:  # None / "string"
        return v
    m = _SCALAR_SYNTAX[dtype].match(v)
    if m is None:
        return None
    if dtype in _INT_BOUND:
        n = int(v) if m[2] is None else int(m[1] + m[2], 16)
        return n if -_INT_BOUND[dtype] <= n < _INT_BOUND[dtype] else None
    if dtype in ("float", "double"):
        return float(v)
    if dtype == "boolean":
        return v.lower() in ("1", "t", "true")
    return v


_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.@\[\]]+))?(?::(\w+))?\}")

# one regex token: an escape, a character class or a single character
_TOKEN = re.compile(r"\\.|\[\^?\]?(?:\\.|[^\]\\])*\]|.", re.S)
_BACKREF = re.compile(r"\\[1-9]")
_GLOBAL_FLAGS = re.compile(r"\(\?([aiLmsux]+)\)")

_TYPE_MAP = {"int": "integer", "long": "long", "float": "float",
             "double": "double", "boolean": "boolean", "string": "string"}


class GrokError(ValueError):
    pass


def _top_level(pat: str) -> list[str]:
    """The tokens of regex `pat` outside any group."""
    depth, out = 0, []
    for t in _TOKEN.findall(pat):
        depth -= t == ")"
        if depth == 0:
            out.append(t)
        depth += t == "("
    return out


class Grok:
    """One compiled grok expression → named-group regex + typed field list."""

    def __init__(
        self,
        expr: str,
        pattern_definitions: dict[str, str] | None = None,
        max_depth: int = 20,
    ):
        self.raw = expr
        self.bank = dict(BUILTIN_PATTERNS)
        if pattern_definitions:
            self.bank.update(pattern_definitions)
        self.fields: list[tuple[str, str]] = []  # (output name, convert type)
        self._group_names: list[str] = []
        compiled = self._expand(expr, depth=max_depth)
        # a bank renumbers groups, so `\1` would point elsewhere there
        if any(_BACKREF.fullmatch(t) for t in _TOKEN.findall(compiled)):
            raise GrokError(f"grok expression {expr!r} has a numbered backreference")
        try:
            self.pattern = re.compile(compiled)
        except re.error as e:
            raise GrokError(f"grok expression {expr!r} compiled to bad regex: {e}")

    def _expand(self, expr: str, depth: int) -> str:
        if depth <= 0:
            raise GrokError(f"grok pattern recursion too deep in {self.raw!r}")

        def repl(m: re.Match) -> str:
            syntax, semantic, dtype = m.groups()
            if syntax not in self.bank:
                raise GrokError(f"unknown grok pattern %{{{syntax}}}")
            inner = self._expand(self.bank[syntax], depth - 1)
            if semantic:
                gname = f"g{len(self._group_names)}"
                self._group_names.append(gname)
                self.fields.append((semantic, _TYPE_MAP.get(dtype or "string", "string")))
                return f"(?P<{gname}>{inner})"
            return f"(?:{inner})"

        return _GROK_REF.sub(repl, expr)

    def grok(self, s: str | None) -> dict | None:
        """Scalar reference implementation (search semantics, like ingest grok)."""
        if s is None:
            return None
        m = self.pattern.search(s)
        if m is None:
            return None
        raw: dict[str, str | None] = {}
        types: dict[str, str] = {}
        for (name, dtype), gname in zip(self.fields, self._group_names):
            # a semantic may appear in several alternation branches (e.g.
            # HTTPD_ERRORLOG): its first captured occurrence wins, a later
            # branch's empty group must not null it out; it takes the type
            # of its first appearance, as in a bank
            if raw.get(name) is None:
                raw[name] = m.group(gname)
            types.setdefault(name, dtype)
        return {k: _convert_scalar(v, types[k]) for k, v in raw.items()}


class GrokBank:
    """Ordered list of alternative grok expressions — first match wins
    (≅ the `patterns:` list of an ingest grok processor).

    The bank compiles to ONE regex, `^(?:alt_0|alt_1|...)`, run in a single
    vectorized pass. `re` tries the alternatives in order at offset 0 only,
    so each alternative gives its pattern `re.search` semantics itself: a
    start-anchored pattern (leading `^`, no top-level `|`) is used as it
    is, any other gets a lazy `(?s:.*?)` prefix, so the engine tries it at
    every offset before the next pattern. A leading global flag such as
    `(?m)` becomes a scoped group (a global flag must start the whole
    regex). Each alternative carries an empty marker group `p{i}m`, so we
    know which pattern matched a row; its `g*` groups become `p{i}_g*`."""

    def __init__(self, exprs: list[str], pattern_definitions: dict[str, str] | None = None):
        if not exprs:
            raise GrokError("empty grok pattern list")
        self.groks = [Grok(e, pattern_definitions) for e in exprs]
        # union of output keys, first-appearance order and type
        self.key_types: dict[str, str] = {}
        for g in self.groks:
            for name, dtype in g.fields:
                self.key_types.setdefault(name, dtype)
        self.output_keys = list(self.key_types)
        parts = []
        for i, g in enumerate(self.groks):
            pat = re.sub(r"\(\?P<(g\d+)>", rf"(?P<p{i}_\1>", g.pattern.pattern)
            pat = re.sub(r"\(\?P=(g\d+)", rf"(?P=p{i}_\1", pat)
            flags = _GLOBAL_FLAGS.match(pat)
            if flags:
                pat = f"(?s:.*?)(?{flags[1]}:{pat[flags.end():]})"
            elif not pat.startswith("^") or "|" in _top_level(pat):
                pat = f"(?s:.*?)(?:{pat})"
            parts.append(f"(?P<p{i}m>){pat}")
        try:
            self.pattern = re.compile(f"^(?:{'|'.join(parts)})")
        except re.error as e:
            raise GrokError(f"grok bank compiled to bad regex: {e}")

    def grok_frame(self, s: pd.Series) -> pd.DataFrame:
        """Vectorized extraction in one `str.extract` pass: one raw string
        capture column per output key (typed later by its `key_types`
        entry); unmatched rows are all-NaN with `_grok_matched` False."""
        ext = s.astype("object").str.extract(self.pattern, expand=True)
        # an unmatched alternative's groups are NaN, so per field a plain
        # column take suffices; a field several patterns own coalesces in
        # priority order (a row matches exactly one alternative)
        out = pd.DataFrame(index=s.index)
        for i, g in enumerate(self.groks):
            for (name, _), gname in zip(g.fields, g._group_names):
                c = ext[f"p{i}_{gname}"]
                out[name] = c if name not in out else out[name].combine_first(c)
        out["_grok_matched"] = (
            ext[[f"p{i}m" for i in range(len(self.groks))]].notna().any(axis=1)
        )
        return out
