"""Filebeat module pipelines re-expressed as DataFrame programs.

The reference ships per-service ingest pipelines (grok bank + rename/convert/
date/set steps) that Elasticsearch executes; Beats only ships the YAML
(e.g. /root/reference/filebeat/module/apache/access/ingest/pipeline.yml,
apache/error/ingest/pipeline.yml, system/syslog/ingest/files.yml,
nginx/access/ingest/pipeline.yml). Each function below is the Spark
restatement of one such pipeline: the grok patterns are carried VERBATIM
(modulo the `_tmp.url_orig` staging field, folded straight into
`url.original`), post-steps (`set event.outcome`, `uri_parts`, source
ip/domain split, `date`) become Column expressions, and the output is one
struct column `parsed` (ECS dot-paths as underscore field names) plus
top-level convenience columns.

Parity is pinned by tests/test_modules.py against the reference's own golden
files (filebeat/module/*/test/*.log-expected.json) for every field this
restatement emits, and, without the reference tree, by
tests/test_module_corpus.py: the frozen output of all 36 filesets over an
in-repo corpus (tests/golden/module_corpus.json).

Steps several pipelines share have one definition each, below under
"shared post-steps": `_plain_or_json` (the first-character branch between
the plaintext grok and the JSON decode), `_ip_or_domain` (the source/
destination address split), `_is_private` and `_http_outcome`. Every
date parse by layout goes through `operators.parse.parse_timestamp`, the
function the `timestamp` processor compiles to; pensando.dfw's format-less
ISO cast is the one `try_to_timestamp` left here.

Scale shape: the grok bank is one vectorized pandas UDF running the whole
bank as one first-match-wins regex (grok.GrokBank) and returning raw string
captures; their `:int`/`:long` casts, like every post-step, are pure Column
expressions fused by codegen (operators.parse.convert_col). No joins, no
shuffles — a module pipeline is a projection, embarrassingly parallel over
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.grok import BUILTIN_PATTERNS
from beats_spark.operators import parse as P

# -- shared post-steps --------------------------------------------------------

# Go layouts several filesets parse with (see P.parse_timestamp)
_PG_TS_LAYOUTS = ["2006-01-02 15:04:05.999 MST", "2006-01-02 15:04:05 MST"]
_COMMA_MS = "2006-01-02T15:04:05,999"           # log4j: 2018-05-17T08:19:35,939
_MS_OFFSET = "2006-01-02T15:04:05.999Z07:00"     # ...T13:49:45.606+00:00 / Z
_MS_OFFSET_NOCOLON = "2006-01-02T15:04:05.999Z0700"  # ...T13:49:45.606+0000


def _ip_or_domain(addr: Column) -> tuple[Column, Column]:
    """The pipelines' `convert type: ip` with an on_failure rename: an
    address is (ip, NULL) when it is an IP literal, else (NULL, domain)."""
    is_ip = P.convert_col(addr, "ip").isNotNull()
    return F.when(is_ip, addr), F.when(~is_ip, addr)


def _is_private(x: Column) -> Column:
    """RFC-1918 or loopback IPv4 (the nginx pipelines' painless check)."""
    o = F.split(x, r"\.")
    f1 = F.get(o, 0).try_cast("int")
    f2 = F.get(o, 1).try_cast("int")
    return F.coalesce(
        (f1 == 10) | (f1 == 127) | ((f1 == 192) & (f2 == 168))
        | ((f1 == 172) & f2.between(16, 31)),
        F.lit(False),
    )


def _http_outcome(status: Column) -> Column:
    """event.outcome by HTTP status class; NULL without a status."""
    return (F.when(status.isNotNull() & (status < 400), "success")
            .when(status.isNotNull(), "failure"))


def _plain_or_json(df: DataFrame, patterns: list[str],
                   definitions: dict[str, str] | None = None,
                   schema: str | None = None):
    """The first-character branch of the dual-format pipelines: a line
    starting with '{' takes the JSON pipeline, any other line the plaintext
    grok. Adds `parsed` (the grok struct, NULL on JSON lines) and, given a
    from_json `schema`, `js` (the decoded line, NULL on plaintext lines;
    the caller drops it). Returns the frame, the is-JSON predicate and
    `pick(json_value, plain_value=None)`, the value of the line's branch."""
    is_json = F.col("message").startswith("{")
    out = P.grok(df, patterns, target_prefix="parsed",
                 flag_failures=False, pattern_definitions=definitions)
    # the unanchored grok would otherwise match inside the JSON text
    out = out.withColumn("parsed", F.when(~is_json, F.col("parsed")))
    if schema:
        out = out.withColumn(
            "js", F.when(is_json, F.from_json(F.col("message"), schema)))

    def pick(json_value: Column, plain_value: Column | None = None) -> Column:
        on_json = F.when(is_json, json_value)
        return on_json if plain_value is None else on_json.otherwise(plain_value)

    return out, is_json, pick


# -- apache.access (pipeline.yml:10-28) --------------------------------------

APACHE_ACCESS_PATTERNS = [
    r'%{IPORHOST:destination.domain} %{IPORHOST:source.ip} - %{DATA:user.name} '
    r'\[%{HTTPDATE:apache.access.time}\] "(?:%{WORD:http.request.method} '
    r'%{DATA:url.original} HTTP/%{NUMBER:http.version}|-)?" '
    r'%{NUMBER:http.response.status_code:long} '
    r'(?:%{NUMBER:http.response.body.bytes:long}|-)'
    r'( "%{DATA:http.request.referrer}")?( "%{DATA:user_agent.original}")?',
    r'%{IPORHOST:source.address} - %{DATA:user.name} '
    r'\[%{HTTPDATE:apache.access.time}\] "(?:%{WORD:http.request.method} '
    r'%{DATA:url.original} HTTP/%{NUMBER:http.version}|-)?" '
    r'%{NUMBER:http.response.status_code:long} '
    r'(?:%{NUMBER:http.response.body.bytes:long}|-)'
    r'( "%{DATA:http.request.referrer}")?( "%{DATA:user_agent.original}")?',
    r'%{IPORHOST:source.address} - %{DATA:user.name} '
    r'\[%{HTTPDATE:apache.access.time}\] "-" '
    r'%{NUMBER:http.response.status_code:long} -',
    r'\[%{HTTPDATE:apache.access.time}\] %{IPORHOST:source.address} '
    r'%{DATA:apache.access.ssl.protocol} %{DATA:apache.access.ssl.cipher} '
    r'"%{WORD:http.request.method} %{DATA:url.original} '
    r'HTTP/%{NUMBER:http.version}" (?:-|%{NUMBER:http.response.body.bytes:long})',
]


def apache_access(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """apache/access/ingest/pipeline.yml as a DataFrame program."""
    out = P.grok(df, APACHE_ACCESS_PATTERNS, target_prefix="parsed")
    p = F.col("parsed")
    status = p["http_response_status_code"]
    # set event.outcome by status class (pipeline.yml:39-47)
    out = out.withColumn("event_outcome", _http_outcome(status))
    # uri_parts-lite: url.original → url.path / url.query (path is
    # percent-DECODED in the reference's uri_parts output)
    url = p["url_original"]
    raw_path = F.split(url, r"\?").getItem(0)
    out = out.withColumn(
        "url_path", F.coalesce(F.try_url_decode(raw_path), raw_path)
    )
    out = out.withColumn(
        "url_query",
        F.when(url.contains("?"), F.regexp_replace(url, r"^[^?]*\?", "")),
    )
    # source.address → source.ip | source.domain (the second grok stage)
    addr = F.coalesce(p["source_address"], p["source_ip"])
    ip, domain = _ip_or_domain(addr)
    out = out.withColumn("source_address", addr)
    out = out.withColumn("source_ip", ip)
    out = out.withColumn("source_domain", domain)
    # date: HTTPDATE carries its own zone (dd/MMM/yyyy:HH:mm:ss Z)
    return out.withColumn("timestamp", P.parse_timestamp(
        p["apache_access_time"], ["02/Jan/2006:15:04:05 -0700"], timezone))


# -- apache.error (pipeline.yml:9-27) ----------------------------------------

APACHE_ERROR_PATTERNS = [
    r"\[%{APACHE_TIME:apache.error.timestamp}\] \[%{LOGLEVEL:log.level}\]"
    r"( \[client %{IPORHOST:source.address}(:%{POSINT:source.port:int})?\])? "
    r"%{GREEDYDATA:message}",
    r"\[%{APACHE_TIME:apache.error.timestamp}\] "
    r"\[%{DATA:apache.error.module}:%{APACHE_LOGLEVEL:log.level}\] "
    r"\[pid %{NUMBER:process.pid:long}(:tid %{NUMBER:process.thread.id:long})?\]"
    r"( \[client %{IPORHOST:source.address}(:%{POSINT:source.port:int})?\])? "
    r"%{GREEDYDATA:message}",
]

APACHE_ERROR_DEFINITIONS = {
    # Apache log level can have numeric sub-levels such as trace1
    "APACHE_LOGLEVEL": r"%{LOGLEVEL}[0-9]*",
    "APACHE_TIME": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
}


def apache_error(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """apache/error/ingest/pipeline.yml: two-pattern bank with module-local
    pattern_definitions, second grok over message for file.path, naive
    timestamp interpreted in the event timezone."""
    out = P.grok(df, APACHE_ERROR_PATTERNS, target_prefix="parsed",
                 pattern_definitions=APACHE_ERROR_DEFINITIONS)
    p = F.col("parsed")
    out = out.withColumn(
        "file_path",
        F.regexp_extract(p["message"], r"File does not exist: (\S+?)(?:,|$)", 1),
    )
    out = out.withColumn(
        "file_path", F.when(F.col("file_path") != "", F.col("file_path"))
    )
    out = out.withColumn("source_ip", _ip_or_domain(p["source_address"])[0])
    # Spark's parser rejects day-of-week fields (EEE), so strip the leading
    # day name the reference's `EEE MMM dd H:m:s yyyy` format consumes
    return out.withColumn("timestamp", P.parse_timestamp(
        F.regexp_replace(p["apache_error_timestamp"], r"^[A-Za-z]+ ", ""),
        ["Jan _2 15:04:05 2006", "Jan _2 15:04:05.999999 2006"], timezone))


# -- system.syslog (files.yml:6-23) ------------------------------------------

SYSLOG_PATTERNS = [
    r"%{SYSLOGTIMESTAMP:system.syslog.timestamp} %{SYSLOGHOST:host.hostname} "
    r"%{DATA:process.name}(?:\[%{POSINT:process.pid:long}\])?: "
    r"%{GREEDYMULTILINE:system.syslog.message}",
    r"%{SYSLOGTIMESTAMP:system.syslog.timestamp} "
    r"%{GREEDYMULTILINE:system.syslog.message}",
    r"%{TIMESTAMP_ISO8601:system.syslog.timestamp} %{SYSLOGHOST:host.hostname} "
    r"%{DATA:process.name}(?:\[%{POSINT:process.pid:long}\])?: "
    r"%{GREEDYMULTILINE:system.syslog.message}",
]


def system_syslog(df: DataFrame) -> DataFrame:
    """system/syslog/ingest/files.yml: grok bank + message rename. The
    timestamp has no year, so @timestamp parity is not asserted (the
    reference pipeline resolves the year ingest-side)."""
    out = P.grok(df, SYSLOG_PATTERNS, target_prefix="parsed")
    p = F.col("parsed")
    # remove message; rename system.syslog.message → message
    out = out.withColumn("message_out", p["system_syslog_message"])
    out = out.withColumn("host_hostname", p["host_hostname"])
    out = out.withColumn("process_name", p["process_name"])
    out = out.withColumn("process_pid", p["process_pid"])
    return out


# -- nginx.access (pipeline.yml:10-27) ---------------------------------------

NGINX_ACCESS_PATTERNS = [
    r'(%{NGINX_HOST} )?"?(?:%{NGINX_ADDRESS_LIST:nginx.access.remote_ip_list}'
    r"|%{NOTSPACE:source.address}) - (-|%{DATA:user.name}) "
    r"\[%{HTTPDATE:nginx.access.time}\] \"%{DATA:nginx.access.info}\" "
    r"%{NUMBER:http.response.status_code:long} "
    r"%{NUMBER:http.response.body.bytes:long} "
    r'"(-|%{DATA:http.request.referrer})" "(-|%{DATA:user_agent.original})"',
]

NGINX_ACCESS_DEFINITIONS = {
    "NGINX_HOST":
        r"(?:%{IP:destination.ip}|%{NGINX_NOTSEPARATOR:destination.domain})"
        r"(:%{NUMBER:destination.port})?",
    "NGINX_NOTSEPARATOR": r"[^\t ,:]+",
    "NGINX_ADDRESS_LIST": r'(?:%{IP}|%{WORD})("?,?\s*(?:%{IP}|%{WORD}))*',
}


def nginx_access(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """nginx/access/ingest/pipeline.yml: main grok + the nested
    `nginx.access.info` grok for method/url/version + remote-ip-list split
    (first address = source.address when the list form matched)."""
    out = P.grok(df, NGINX_ACCESS_PATTERNS, target_prefix="parsed",
                 pattern_definitions=NGINX_ACCESS_DEFINITIONS)
    p = F.col("parsed")
    info = p["nginx_access_info"]
    out = out.withColumn(
        "http_request_method", F.regexp_extract(info, r"^(\S+) ", 1)
    )
    out = out.withColumn(
        "http_request_method",
        F.when(F.col("http_request_method") != "", F.col("http_request_method")),
    )
    out = out.withColumn(
        "url_original", F.when(
            info.rlike(r"^\S+ \S+ HTTP/"), F.regexp_extract(info, r"^\S+ (\S+) ", 1)
        )
    )
    out = out.withColumn(
        "http_version", F.when(
            info.contains(" HTTP/"), F.regexp_extract(info, r" HTTP/(\S+)$", 1)
        )
    )
    # split: remote_ip_list → array; source.address = first NON-PRIVATE
    # address, else the first entry (the pipeline's painless script,
    # pipeline.yml:52-95, as a pure array expression)
    ip_list = F.split(
        F.regexp_replace(p["nginx_access_remote_ip_list"], '"', ""), r",?\s+"
    )
    out = out.withColumn(
        "remote_ip_list",
        F.when(p["nginx_access_remote_ip_list"].isNotNull(), ip_list),
    )
    public_ips = F.filter(ip_list, lambda x: ~_is_private(x))
    addr = F.coalesce(
        F.get(public_ips, 0), F.get(ip_list, 0), p["source_address"]
    )
    out = out.withColumn("source_address", addr)
    out = out.withColumn("source_ip", _ip_or_domain(addr)[0])
    return out.withColumn("timestamp", P.parse_timestamp(
        p["nginx_access_time"], ["02/Jan/2006:15:04:05 -0700"], timezone))


# -- osquery.result (ingest/pipeline.json) -----------------------------------

OSQUERY_SCHEMA = (
    "struct<name:string, hostIdentifier:string, calendarTime:string,"
    " unixTime:string, epoch:string, counter:string, action:string,"
    " decorations:map<string,string>, columns:map<string,string>>"
)


def osquery_result(df: DataFrame) -> DataFrame:
    """osquery/result/ingest/pipeline.json: ndjson decode → osquery.result
    (camelCase renames), @timestamp from unixTime, event.action mirror,
    file.path/type + host identity pulled from the dynamic columns map.
    Everything is from_json + Column expressions — fully JVM, no UDF."""
    out = df.withColumn("result", F.from_json(F.col("message"), OSQUERY_SCHEMA))
    r = F.col("result")
    out = (
        out.withColumn("host_identifier", r["hostIdentifier"])
        .withColumn("unix_time", r["unixTime"].try_cast("long"))
        .withColumn("calendar_time", r["calendarTime"])
        .withColumn("event_action", r["action"])
        .withColumn("timestamp", F.timestamp_seconds(r["unixTime"].try_cast("long")))
        .withColumn("file_path", F.element_at(r["columns"], "path"))
        .withColumn("file_type", F.element_at(r["columns"], "type"))
        .withColumn("host_hostname", r["hostIdentifier"])
        .withColumn("host_id", F.element_at(r["decorations"], "host_uuid"))
    )
    return out


# -- redis.log (redis/log/ingest/pipeline.yml) -------------------------------

REDIS_LOG_PATTERNS = [
    r"(%{POSINT:process.pid:long}:%{CHAR:redis.log.role} )?"
    r"(%{REDISTIMESTAMP1:redis.log.timestamp}||%{REDISTIMESTAMP2:redis.log.timestamp})"
    r" %{REDISLEVEL:log.level} %{GREEDYDATA:message}",
    r"%{POSINT:process.pid:long}:signal-handler \(%{POSINT:redis.log.timestamp}\) "
    r"%{GREEDYDATA:message}",
]

REDIS_LOG_DEFINITIONS = {
    "CHAR": r"[a-zA-Z]",
    "REDISLEVEL": r"[.\-*#]",
    "REDISTIMESTAMP1": r"%{MONTHDAY} %{MONTH} %{TIME}",
    "REDISTIMESTAMP2": r"%{MONTHDAY} %{MONTH} %{YEAR} %{TIME}",
}


def redis_log(df: DataFrame) -> DataFrame:
    """redis/log/ingest/pipeline.yml: grok (verbatim patterns incl. the
    empty-alternative timestamp branch), sigil→level and role-letter maps
    (the pipeline's painless scripts as when-chains), year-full timestamp
    parse (the yearless format is unresolvable batch-side, exactly like the
    reference leaves it to ingest)."""
    out = P.grok(df, REDIS_LOG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=REDIS_LOG_DEFINITIONS)
    p = F.col("parsed")
    lvl = p["log_level"]
    role = p["redis_log_role"]
    # the painless scripts mutate ctx.log.level / ctx.redis.log.role in
    # place — mirror by rewriting the parsed struct fields
    out = out.withColumn(
        "parsed",
        F.col("parsed")
        .withField(
            "log_level",
            F.when(lvl == ".", "debug").when(lvl == "-", "verbose")
            .when(lvl == "*", "notice").when(lvl == "#", "warning")
            .otherwise(lvl),
        )
        .withField(
            "redis_log_role",
            F.when(role == "M", "master").when(role == "S", "slave")
            .when(role == "C", "child").when(role == "X", "sentinel")
            .otherwise(role),
        ),
    )
    out = out.withColumn("process_pid", p["process_pid"])
    out = P.timestamp(out, "parsed.redis_log_timestamp",
                      ["2 Jan 2006 15:04:05.999", "UNIX"], target="timestamp")
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.array(F.lit("database")))
    out = out.withColumn("event_type", F.array(F.lit("info")))
    return out


# -- mysql.error (mysql/error/ingest/pipeline.yml) ---------------------------

MYSQL_ERROR_PATTERNS = [
    r"%{MYSQLDATETIME}%{SPACE}(%{NUMBER:mysql.thread_id:long}%{SPACE})?"
    r"(\[%{DATA:log.level}\]%{SPACE})?%{GREEDYMULTILINE:message}",
    r"%{GREEDYDATA:message}",
]

MYSQL_ERROR_DEFINITIONS = {
    "LOCALDATETIME": r"(?:%{YEAR}-%{MONTHNUM}-%{MONTHDAY}|%{NUMBER})%{SPACE}%{TIME}",
    "MYSQLDATETIME":
        r"(?:%{LOCALDATETIME:_tmp.local_timestamp}|%{TIMESTAMP_ISO8601:_tmp.timestamp})",
}

MYSQL_ERROR_MSG_PATTERNS = [
    r"(\[%{DATA:event.code}\])%{SPACE}(\[%{DATA:event.provider}\])%{SPACE}"
    r"%{NOTSPACE}: Forcing close of thread %{INT}  user: '%{USERNAME:user.name}'",
    r"(\[%{DATA:event.code}\])%{SPACE}(\[%{DATA:event.provider}\])%{SPACE}"
    r"%{GREEDYMULTILINE}",
    r"%{ACCESS:_tmp.auth_failed} for user '%{USERNAME:user.name}'"
    r"(@'%{IP:source.ip}')?",
    r"%{IP_RESOLVE_ERROR:_tmp.ip_resolve_error}",
    r"Server socket created on IP: '%{IP:source.ip}'",
    r"%{GREEDYDATA}",
]

MYSQL_ERROR_MSG_DEFINITIONS = {
    "ACCESS": r"Access denied",
    "IP_RESOLVE_ERROR":
        r"IP address '%{IP:source.ip}' could not be resolved: "
        r"Name or service not known",
}


def mysql_error(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """mysql/error/ingest/pipeline.yml: two-stage grok (datetime/level/message
    split, then message classification), conditional dates — the LOCAL
    datetime is interpreted in the event timezone, the ISO8601 variant is
    absolute — and the auth-failure enrichments (event.category/action/
    outcome appends, related.ip/user)."""
    out = P.grok_chain(df, [
        {"patterns": MYSQL_ERROR_PATTERNS, "target": "parsed",
         "pattern_definitions": MYSQL_ERROR_DEFINITIONS},
        {"patterns": MYSQL_ERROR_MSG_PATTERNS, "target": "parsed2",
         "pattern_definitions": MYSQL_ERROR_MSG_DEFINITIONS,
         "input": ("parsed", "message")},
    ])
    p = F.col("parsed")
    out = out.withColumn("message_out", p["message"])
    p2 = F.col("parsed2")
    # local datetime: collapse double space, zero-pad the hour, parse, then
    # shift from the event timezone; ISO8601: absolute, no shift
    local_norm = F.regexp_replace(
        F.regexp_replace(p["_tmp_local_timestamp"], r"\s+", " "),
        r" (\d):", " 0$1:",
    )
    local_ts = P.parse_timestamp(
        local_norm, ["060102 15:04:05", "2006-01-02 15:04:05"], timezone)
    iso_ts = P.parse_timestamp(
        p["_tmp_timestamp"],
        ["2006-01-02T15:04:05.999999Z07:00", "2006-01-02T15:04:05Z07:00"])
    out = out.withColumn("timestamp", F.coalesce(local_ts, iso_ts))
    out = out.withColumn("mysql_thread_id", p["mysql_thread_id"])
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("user_name", p2["user_name"])
    out = out.withColumn("source_ip", p2["source_ip"])
    auth_failed = p2["_tmp_auth_failed"].isNotNull()
    ip_err = p2["_tmp_ip_resolve_error"].isNotNull()
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_category",
        F.when(auth_failed, F.array(F.lit("database"), F.lit("authentication")))
        .when(ip_err, F.array(F.lit("database"), F.lit("network")))
        .otherwise(F.array(F.lit("database"))),
    )
    out = out.withColumn(
        "event_type",
        F.when(F.lower(F.coalesce(p["log_level"], F.lit(""))) == "error",
               F.array(F.lit("info"), F.lit("error")))
        .otherwise(F.array(F.lit("info"))),
    )
    out = out.withColumn(
        "event_action", F.when(auth_failed, F.array(F.lit("logon-failed")))
    )
    out = out.withColumn("event_outcome", F.when(auth_failed, "failure"))
    out = out.withColumn(
        "related_ip", F.when(p2["source_ip"].isNotNull(),
                             F.array(p2["source_ip"]))
    )
    out = out.withColumn(
        "related_user", F.when(p2["user_name"].isNotNull(),
                               F.array(p2["user_name"]))
    )
    return out


# -- postgresql.log (postgresql/log/ingest/pipeline.yml + pipeline-log.yml) --

POSTGRESQL_ENTRY_PATTERNS = [
    r"^%{DATETIME:postgresql.log.timestamp}%{CHAR:separator}%{GREEDYDATA:raw_message}",
]

POSTGRESQL_ENTRY_DEFINITIONS = {
    "DATETIME": r"[-0-9]+ %{TIME} %{WORD:event.timezone}",
    "CHAR": r".",
    "GREEDYDATA": "(.|\n|\t)*",
}

POSTGRESQL_LOG_PATTERNS = [
    r"^(\[%{NUMBER:process.pid:long}(-%{BASE16FLOAT:postgresql.log.session_line_number:long})?\] "
    r"((\[%{USERNAME:user.name}\]@\[%{POSTGRESQL_DB_NAME:postgresql.log.database}\]"
    r"|%{USERNAME:user.name}@%{POSTGRESQL_DB_NAME:postgresql.log.database}) )?)?"
    r"%{WORD:log.level}:  (?:%{POSTGRESQL_ERROR:postgresql.log.sql_state_code}|%{SPACE})"
    r"(duration: %{NUMBER:temp.duration:float} ms"
    r"(  %{POSTGRESQL_QUERY_STEP}: %{GREEDYDATA:postgresql.log.query})?"
    r"|statement: %{GREEDYDATA:postgresql.log.query}"
    r"|: %{GREEDYDATA:message}"
    r"|%{GREEDYDATA:message})",
]

POSTGRESQL_LOG_DEFINITIONS = {
    "GREEDYDATA": "(.|\n|\t)*",
    "POSTGRESQL_DB_NAME": r"[a-zA-Z0-9_]+[a-zA-Z0-9_\$]*",
    "POSTGRESQL_QUERY_STEP":
        r"%{WORD:postgresql.log.query_step}(?: <unnamed>| %{WORD:postgresql.log.query_name})?",
    "POSTGRESQL_ERROR": r"\b[A-Z0-9]{5}\b",
}


def postgresql_log(df: DataFrame) -> DataFrame:
    """postgresql/log/ingest/pipeline.yml (entry split) + pipeline-log.yml
    (the non-CSV path). event.timezone comes from the log line itself; the
    timestamp parse uses the zone-name format ('zzz'), and event.duration
    is the statement duration in nanoseconds."""
    out = P.grok_chain(df, [
        {"patterns": POSTGRESQL_ENTRY_PATTERNS, "target": "entry",
         "pattern_definitions": POSTGRESQL_ENTRY_DEFINITIONS},
        {"patterns": POSTGRESQL_LOG_PATTERNS, "target": "parsed",
         "pattern_definitions": POSTGRESQL_LOG_DEFINITIONS,
         "input": ("entry", "raw_message")},
    ])
    e = F.col("entry")
    out = out.withColumn("raw_message", e["raw_message"])
    p = F.col("parsed")
    ts = e["postgresql_log_timestamp"]
    out = out.withColumn("postgresql_log_timestamp", ts)
    out = out.withColumn("event_timezone", e["event_timezone"])
    out = out.withColumn("timestamp", P.parse_timestamp(ts, _PG_TS_LAYOUTS))
    out = out.withColumn("process_pid", p["process_pid"])
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("user_name", p["user_name"])
    out = out.withColumn("postgresql_log_database", p["postgresql_log_database"])
    out = out.withColumn("postgresql_log_query", p["postgresql_log_query"])
    out = out.withColumn(
        "event_duration",
        F.round(p["temp_duration"] * 1e6).try_cast("long"),
    )
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.array(F.lit("database")))
    code = p["postgresql_log_sql_state_code"]
    out = out.withColumn(
        "event_type",
        F.when(code.isNull() | code.rlike(r"^0[012]"), F.array(F.lit("info")))
        .otherwise(F.array(F.lit("error"))),
    )
    out = out.withColumn(
        "related_user",
        F.when(p["user_name"].isNotNull(), F.array(p["user_name"])),
    )
    return out


# -- kafka.log (kafka/log/ingest/pipeline.yml) -------------------------------

KAFKA_LOG_PATTERNS = [
    # the reference's (?'kafka.log.trace.full'.*) named group restated as a
    # grok semantic; under (?m) the dot stops at the newline, so the trace
    # capture is the first line after the log entry — same as the reference
    r"(?m)%{TIMESTAMP_ISO8601:kafka.log.timestamp}. %{LOGLEVEL:log.level} +"
    r"%{JAVALOGMESSAGE:message} \(%{JAVACLASS:kafka.log.class}\)$[ \n]*"
    r"%{KAFKATRACE:kafka.log.trace.full}",
    r"(?m)\[%{TIMESTAMP_ISO8601:kafka.log.timestamp}\] \[%{LOGLEVEL:log.level} ?\] "
    r"\[%{NOTSPACE:kafka.log.thread}\] \[%{NOTSPACE:kafka.log.class}\] \- "
    r"%{GREEDYDATA:message}",
]

KAFKA_LOG_DEFINITIONS = {"KAFKATRACE": r".*"}

# unanchored on purpose: ingest grok is search-semantics, so a component
# bracket ANYWHERE in the message wins (the reference's goldens pin this,
# e.g. '... cleanup.policy -> [delete], flush.ms -> ...' → component=delete)
_KAFKA_COMPONENT_RE = r"\[([^\]]*)\][,:.]? +((?s:.*))$"


def kafka_log(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """kafka/log/ingest/pipeline.yml: entry grok (incl. the stack-trace
    first-line capture), component split with on_failure → 'unknown', trace
    class/message split, comma-millis timestamp in the event timezone."""
    out = P.grok(df, KAFKA_LOG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=KAFKA_LOG_DEFINITIONS)
    p = F.col("parsed")
    msg = p["message"]
    comp = F.regexp_extract(msg, _KAFKA_COMPONENT_RE, 1)
    rest = F.regexp_extract(msg, _KAFKA_COMPONENT_RE, 2)
    out = out.withColumn(
        "kafka_log_component", F.when(comp != "", comp).otherwise("unknown")
    )
    out = out.withColumn("message_out", F.when(comp != "", rest).otherwise(msg))
    trace = p["kafka_log_trace_full"]
    jc = BUILTIN_PATTERNS["JAVACLASS"]
    tclass = F.regexp_extract(trace, rf"^({jc}):\s*(.*)$", 1)
    tmsg = F.regexp_extract(trace, rf"^({jc}):\s*(.*)$", 2)
    out = out.withColumn("kafka_log_trace_class", F.when(tclass != "", tclass))
    out = out.withColumn("kafka_log_trace_message", F.when(tclass != "", tmsg))
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("kafka_log_class", p["kafka_log_class"])
    out = P.timestamp(out, "parsed.kafka_log_timestamp",
                      ["2006-01-02 15:04:05,000"], target="timestamp",
                      timezone=timezone)
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(F.upper(F.coalesce(p["log_level"], F.lit("")))
               .isin("ERROR", "FATAL"), "error").otherwise("info"),
    )
    return out


# -- auditd.log (auditd/log/ingest/pipeline.yml:7-33 + cleanup script) -------

AUDITD_LOG_DEFINITIONS = {
    "AUDIT_TYPE": r"type=%{NOTSPACE:auditd.log.record_type}",
    "AUDIT_NODE": r"node=%{IPORHOST:auditd.log.node} ",
    "AUDIT_PREFIX":
        r"^(?:%{AUDIT_NODE})?%{AUDIT_TYPE} msg=audit\(%{NUMBER:auditd.log.epoch}"
        r":%{NUMBER:auditd.log.sequence:long}\):(%{DATA})?",
    "AUDIT_KEY_VALUES": r"%{WORD}=%{GREEDYDATA}",
    "ANY": r".*",
}

AUDITD_LOG_PATTERNS = [
    r"%{AUDIT_PREFIX} %{AUDIT_KEY_VALUES:auditd.log.kv} old auid=%{NUMBER:auditd.log.old_auid}"
    r" new auid=%{NUMBER:auditd.log.new_auid} old ses=%{NUMBER:auditd.log.old_ses}"
    r" new ses=%{NUMBER:auditd.log.new_ses}",
    "%{AUDIT_PREFIX} %{AUDIT_KEY_VALUES:auditd.log.kv} msg=['\"]([^=]*\\s)?%{ANY:auditd.log.sub_kv}['\"]",
    r"%{AUDIT_PREFIX} %{AUDIT_KEY_VALUES:auditd.log.kv}",
    r"%{AUDIT_PREFIX}",
    r"%{AUDIT_TYPE} %{AUDIT_KEY_VALUES:auditd.log.kv}",
]

# keys the reference's cleanup script may hex-decode (pipeline.yml:100)
_AUDITD_HEX_KEYS = (
    "exe cmd data path comm file name watch cwd acct dir vm old-chardev "
    "new-chardev old-disk new-disk old-fs new-fs old-net new-net device "
    "cgroup apparmor operation denied_mask info profile requested_mask "
    "old-rng new-rng ocomm grp new_group invalid_context sw root_dir proctitle"
).split()

# convertHexToString (pipeline.yml:84-99): decode only when some byte needs
# encoding (cp<33, 34, 127); control bytes become ^-escapes (cp XOR 64)
_AUDITD_HEX_DECODE_SQL = """
CASE WHEN {k} IN ({hexkeys})
      AND {v} RLIKE '^[0-9A-Fa-f]+$' AND length({v}) % 2 = 0
      AND exists(sequence(1, CAST(length({v})/2 AS INT)),
                 i -> CAST(conv(substr({v}, i*2-1, 2), 16, 10) AS INT) < 33
                      OR CAST(conv(substr({v}, i*2-1, 2), 16, 10) AS INT) IN (34, 127))
THEN concat_ws('', transform(sequence(1, CAST(length({v})/2 AS INT)),
     i -> CASE WHEN CAST(conv(substr({v}, i*2-1, 2), 16, 10) AS INT) < 32
                    OR CAST(conv(substr({v}, i*2-1, 2), 16, 10) AS INT) = 127
               THEN concat('^', char(CAST(conv(substr({v}, i*2-1, 2), 16, 10) AS INT) ^ 64))
               ELSE char(CAST(conv(substr({v}, i*2-1, 2), 16, 10) AS INT)) END))
ELSE {v} END
"""


def auditd_log(df: DataFrame) -> DataFrame:
    """auditd/log/ingest/pipeline.yml (grok prefix + kv split + the cleanup
    painless script as pure SQL expressions). The 2000-line autogenerated
    record-type→ECS mapping is out of scope; everything up to and including
    the cleaned `auditd.log` map (drop ?/(null)/empty, hex→ASCII with
    ^-escaping, quote trim, arch alias) is faithful. The kv splitter itself
    is operators/parse.kv_entries — all JVM, no UDF past the grok stage."""
    from beats_spark.operators.parse import _dedup_entries_first_wins, kv_entries

    out = P.grok(df, AUDITD_LOG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=AUDITD_LOG_DEFINITIONS)
    p = F.col("parsed")
    # second kv (sub_kv) overlays the first → prepend under first-dup-wins
    outer = kv_entries(p["auditd_log_kv"], r'\s(?![\w"]+?(\s+|$))', r"(?<!\\)=")
    sub = kv_entries(p["auditd_log_sub_kv"], r"\s+(?=[^\s]+=)", r"=")
    empty = F.array().cast("array<struct<key:string,value:string>>")
    merged = _dedup_entries_first_wins(
        F.concat(F.coalesce(sub, empty), F.coalesce(outer, empty))
    )
    hexkeys = ", ".join(f"'{k}'" for k in _AUDITD_HEX_KEYS)
    decode_sql = _AUDITD_HEX_DECODE_SQL.format(k="e.key", v="e.value", hexkeys=hexkeys)
    cleaned = F.expr(f"""
        transform(
          filter(_audit_entries, e -> NOT e.value IN ('?', '(null)', '')),
          e -> struct(
            e.key AS key,
            CASE WHEN e.key = 'arch'
                  AND regexp_replace({decode_sql}, "^['\\"]|['\\"]$", '') = 'c000003e'
                 THEN 'x86_64'
                 ELSE regexp_replace({decode_sql}, "^['\\"]|['\\"]$", '') END AS value))
    """)
    out = out.withColumn("_audit_entries", merged)
    out = out.withColumn("auditd_log", F.map_from_entries(cleaned))
    out = out.drop("_audit_entries")
    out = out.withColumn("auditd_log_record_type", p["auditd_log_record_type"])
    out = out.withColumn("auditd_log_sequence", p["auditd_log_sequence"])
    out = out.withColumn("auditd_log_node", p["auditd_log_node"])
    out = out.withColumn("event_original", F.col("message"))
    out = out.withColumn(
        "timestamp", P.parse_timestamp(p["auditd_log_epoch"], ["UNIX"])
    )
    out = out.withColumn("event_kind", F.lit("event"))
    return out


# -- icinga.main (icinga/main/ingest/pipeline.yml) ---------------------------

ICINGA_MAIN_PATTERNS = [
    r"\[%{TIMESTAMP:icinga.main.timestamp}\] %{WORD:log.level}/"
    r"%{WORD:icinga.main.facility}: %{GREEDYMULTILINE:message}",
]

ICINGA_MAIN_DEFINITIONS = {
    "TIMESTAMP":
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:%{MINUTE}:%{SECOND} %{ISO8601_TIMEZONE}",
    "GREEDYMULTILINE": "(.|\n)*",
}


def icinga_main(df: DataFrame) -> DataFrame:
    """icinga/main/ingest/pipeline.yml: one grok, offset-bearing timestamp,
    warning/critical → event.type=error."""
    out = P.grok(df, ICINGA_MAIN_PATTERNS, target_prefix="parsed",
                 pattern_definitions=ICINGA_MAIN_DEFINITIONS)
    p = F.col("parsed")
    out = P.timestamp(out, "parsed.icinga_main_timestamp",
                      ["2006-01-02 15:04:05 -0700"], target="timestamp")
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(p["log_level"].isin("warning", "critical"), "error")
        .otherwise("info"),
    )
    return out


# -- traefik.access (traefik/access/ingest/pipeline.yml) ---------------------

TRAEFIK_DISSECT = (
    '%{source.address} %{traefik.access.user_identifier} %{user.name} '
    '[%{traefik.access.time}] "%{http.request.method} %{temp.url_orig} '
    'HTTP/%{http.version}" %{http.response.status_code} '
    '%{traefik.access.message}'
)

TRAEFIK_MSG_PATTERN = (
    r'(?:%{NUMBER:http.response.body.bytes:long}|-)'
    r'( (?:"%{DATA:http.request.referrer}"|-)?'
    r'( (?:"%{DATA:user_agent.original}"|-)?)?'
    r'( (?:%{NUMBER:traefik.access.request_count:long}|-)?)?'
    r'( (?:"%{DATA:traefik.access.frontend_name}"|-)?)?'
    r'( "%{DATA:traefik.access.backend_url}")?'
    r'( %{NUMBER:temp.duration:long}ms)?)?'
)


def traefik_access(df: DataFrame) -> DataFrame:
    """traefik/access/ingest/pipeline.yml: dissect split (our dissect
    operator, verbatim pattern) → grok over the tail message → uri_parts-lite
    → HTTPDATE parse → ip/domain split → event.duration ns + ECS appends."""
    out = P.dissect(df, TRAEFIK_DISSECT, target_prefix="dis")
    d = F.col("dis")
    out = out.withColumn("_tmsg", d["traefik_access_message"])
    out = P.grok(out, [TRAEFIK_MSG_PATTERN], field="_tmsg",
                 target_prefix="parsed", flag_failures=False)
    p = F.col("parsed")
    url = d["temp_url_orig"]
    raw_path = F.split(url, r"\?").getItem(0)
    out = out.withColumn("url_original", url)
    out = out.withColumn("url_path", raw_path)
    out = out.withColumn(
        "url_query",
        F.when(url.contains("?"), F.regexp_replace(url, r"^[^?]*\?", "")),
    )
    ext = F.regexp_extract(raw_path, r"\.([^/.]+)$", 1)
    out = out.withColumn("url_extension", F.when(ext != "", ext))
    status = d["http_response_status_code"].try_cast("long")
    out = out.withColumn("http_response_status_code", status)
    out = out.withColumn("http_request_method", d["http_request_method"])
    out = out.withColumn("http_version", d["http_version"])
    out = out.withColumn("user_name", d["user_name"])
    out = out.withColumn("traefik_access_user_identifier",
                         d["traefik_access_user_identifier"])
    ip, domain = _ip_or_domain(d["source_address"])
    out = out.withColumn("source_address", d["source_address"])
    out = out.withColumn("source_ip", ip)
    out = out.withColumn("source_domain", domain)
    out = P.timestamp(out, "dis.traefik_access_time",
                      ["02/Jan/2006:15:04:05 -0700"], target="timestamp")
    out = out.withColumn(
        "event_duration",
        (p["temp_duration"] * F.lit(1000000)).try_cast("long"),
    )
    out = out.withColumn("event_kind", F.lit("event"))
    has_method = d["http_request_method"].isNotNull() & (d["http_request_method"] != "-")
    out = out.withColumn("event_category", F.when(has_method, F.array(F.lit("web"))))
    out = out.withColumn("event_type", F.when(has_method, F.array(F.lit("access"))))
    out = out.withColumn("event_outcome", _http_outcome(status))
    out = out.withColumn(
        "related_ip", F.when(F.col("source_ip").isNotNull(),
                             F.array(F.col("source_ip")))
    )
    out = out.withColumn(
        "related_user",
        F.when(d["user_name"].isNotNull() & (d["user_name"] != "-"),
               F.array(d["user_name"])),
    )
    return out.drop("_tmsg")


# -- iis.access (iis/access/ingest/pipeline.yml) -----------------------------

IIS_ACCESS_PATTERNS = [
    r"%{TIMESTAMP_ISO8601:iis.access.time} (?:-|%{IPORHOST:destination.address}) (?:-|%{WORD:http.request.method})"
    r" (?:-|%{NOTSPACE:_tmp.url_path}) (?:-|%{NOTSPACE:_tmp.url_query}) (?:-|%{NUMBER:destination.port:long}) (?:-|%{NOTSPACE:user.name})"
    r" (?:-|%{IPORHOST:source.address}) (?:-|%{NOTSPACE:user_agent.original}) (?:-|%{NOTSPACE:http.request.referrer})"
    r" (?:-|%{NUMBER:http.response.status_code:long}) (?:-|%{NUMBER:iis.access.sub_status:long})"
    r" (?:-|%{NUMBER:iis.access.win32_status:long}) (?:-|%{NUMBER:temp.duration:long})( (?:-|%{IPORHOST:network.forwarded_ip}))?",
    r"%{TIMESTAMP_ISO8601:iis.access.time} (?:-|%{NOTSPACE:iis.access.site_name}) (?:-|%{WORD:http.request.method})"
    r" (?:-|%{NOTSPACE:_tmp.url_path}) (?:-|%{NOTSPACE:_tmp.url_query}) (?:-|%{NUMBER:destination.port:long}) (?:-|%{NOTSPACE:user.name})"
    r" (?:-|%{IPORHOST:source.address}) (?:-|%{NOTSPACE:user_agent.original}) (?:-|%{NOTSPACE:iis.access.cookie})"
    r" (?:-|%{NOTSPACE:http.request.referrer}) (?:-|%{NOTSPACE:destination.domain}) (?:-|%{NUMBER:http.response.status_code:long})"
    r" (?:-|%{NUMBER:iis.access.sub_status:long}) (?:-|%{NUMBER:iis.access.win32_status:long})"
    r" (?:-|%{NUMBER:http.response.body.bytes:long}) (?:-|%{NUMBER:http.request.body.bytes:long})"
    r" (?:-|%{NUMBER:temp.duration:long})( (?:-|%{IPORHOST:network.forwarded_ip}))?",
    r"%{TIMESTAMP_ISO8601:iis.access.time} (?:-|%{NOTSPACE:iis.access.site_name}) (?:-|%{NOTSPACE:iis.access.server_name})"
    r" (?:-|%{IPORHOST:destination.address}) (?:-|%{WORD:http.request.method}) (?:-|%{NOTSPACE:_tmp.url_path})"
    r" (?:-|%{NOTSPACE:_tmp.url_query}) (?:-|%{NUMBER:destination.port:long}) (?:-|%{NOTSPACE:user.name})"
    r" (?:-|%{IPORHOST:source.address}) (?:-|HTTP/%{NUMBER:http.version}) (?:-|%{NOTSPACE:user_agent.original})"
    r" (?:-|%{NOTSPACE:iis.access.cookie}) (?:-|%{NOTSPACE:http.request.referrer}) (?:-|%{NOTSPACE:destination.domain})"
    r" (?:-|%{NUMBER:http.response.status_code:long}) (?:-|%{NUMBER:iis.access.sub_status:long})"
    r" (?:-|%{NUMBER:iis.access.win32_status:long}) (?:-|%{NUMBER:http.response.body.bytes:long})"
    r" (?:-|%{NUMBER:http.request.body.bytes:long}) (?:-|%{NUMBER:temp.duration:long})( (?:-|%{IPORHOST:network.forwarded_ip}))?",
    # markdown-mangled variant ([ip](http://ip)); the duplicate address
    # semantic coalesces first-match-wins here (ES grok emits a 2-array)
    r"%{TIMESTAMP_ISO8601:iis.access.time} \[%{IPORHOST:destination.address}\]\(http://%{IPORHOST:destination.address}\)"
    r" (?:-|%{WORD:http.request.method}) (?:-|%{NOTSPACE:_tmp.url_path}) (?:-|%{NOTSPACE:_tmp.url_query}) (?:-|%{NUMBER:destination.port:long})"
    r" (?:-|%{NOTSPACE:user.name}) \[%{IPORHOST:source.address}\]\(http://%{IPORHOST:source.address}\)"
    r" (?:-|%{NOTSPACE:user_agent.original}) (?:-|%{NUMBER:http.response.status_code:long}) (?:-|%{NUMBER:iis.access.sub_status:long})"
    r" (?:-|%{NUMBER:iis.access.win32_status:long}) (?:-|%{NUMBER:temp.duration:long})( (?:-|%{IPORHOST:network.forwarded_ip}))?",
    # 13-field layout: like the first but with no referrer column
    r"%{TIMESTAMP_ISO8601:iis.access.time} (?:-|%{IPORHOST:destination.address}) (?:-|%{WORD:http.request.method})"
    r" (?:-|%{NOTSPACE:_tmp.url_path}) (?:-|%{NOTSPACE:_tmp.url_query}) (?:-|%{NUMBER:destination.port:long}) (?:-|%{NOTSPACE:user.name})"
    r" (?:-|%{IPORHOST:source.address}) (?:-|%{NOTSPACE:user_agent.original}) (?:-|%{NUMBER:http.response.status_code:long})"
    r" (?:-|%{NUMBER:iis.access.sub_status:long}) (?:-|%{NUMBER:iis.access.win32_status:long})"
    r" (?:-|%{NUMBER:temp.duration:long})( (?:-|%{IPORHOST:network.forwarded_ip}))?",
]


def iis_access(df: DataFrame) -> DataFrame:
    """iis/access/ingest/pipeline.yml (the three W3C field layouts used by
    the goldens): grok bank → url assembly + form-urldecode of user agent →
    %zone-stripped ips → naive-UTC timestamp → duration ns + ECS appends."""
    out = P.grok(df, IIS_ACCESS_PATTERNS, target_prefix="parsed")
    p = F.col("parsed")
    out = out.withColumn("event_original", F.col("message"))
    out = out.withColumn("url_path", p["_tmp_url_path"])
    out = out.withColumn("url_original", p["_tmp_url_path"])
    q = p["_tmp_url_query"]
    out = out.withColumn(
        "url_query", F.when(q.isNotNull(), F.coalesce(F.try_url_decode(q), q))
    )
    ua = p["user_agent_original"]
    # the pipeline urldecodes user_agent.original IN PLACE → rewrite the
    # parsed struct field (the '+' form-encoding is the W3C log format)
    out = out.withColumn(
        "parsed",
        F.when(
            F.col("parsed").isNotNull(),
            F.col("parsed").withField(
                "user_agent_original",
                F.when(ua.isNotNull(), F.coalesce(F.try_url_decode(ua), ua)),
            ),
        ),
    )
    # NOZONEIP: strip a %zone suffix. On the markdown-mangled layout the
    # reference's address is a 2-array, so its NOZONEIP grok fails
    # (ignore_failure) and no ip fields are set — mirror that by gating on
    # the markdown marker.
    mk = F.col("message").rlike(r"\]\(http://")
    dst = F.regexp_extract(p["destination_address"], r"^([^%]*)", 1)
    src = F.regexp_extract(p["source_address"], r"^([^%]*)", 1)
    out = out.withColumn(
        "destination_ip",
        F.when(p["destination_address"].isNotNull() & ~mk, dst),
    )
    out = out.withColumn(
        "source_ip", F.when(p["source_address"].isNotNull() & ~mk, src)
    )
    out = P.timestamp(out, "parsed.iis_access_time",
                      ["2006-01-02 15:04:05"], target="timestamp")
    out = out.withColumn(
        "event_duration", (p["temp_duration"] * F.lit(1000000)).try_cast("long")
    )
    status = p["http_response_status_code"]
    out = out.withColumn("event_kind", F.lit("event"))
    both = F.col("source_ip").isNotNull() & F.col("destination_ip").isNotNull()
    out = out.withColumn(
        "event_category",
        F.when(both, F.array(F.lit("web"), F.lit("network")))
        .otherwise(F.array(F.lit("web"))),
    )
    out = out.withColumn("event_type", F.when(both, F.array(F.lit("connection"))))
    out = out.withColumn("event_outcome", _http_outcome(status))
    out = out.withColumn(
        "related_ip",
        F.filter(F.array(F.col("source_ip"), F.col("destination_ip")),
                 lambda x: x.isNotNull()),
    )
    out = out.withColumn(
        "related_ip",
        F.when(F.size("related_ip") > 0, F.col("related_ip")),
    )
    return out


# -- haproxy.log (haproxy/log/ingest/pipeline.yml) ---------------------------

HAPROXY_LOG_PATTERNS = [
    r"%{HAPROXY_DATE:haproxy.request_date} %{IPORHOST:haproxy.source} %{PROG:process.name}(?:\[%{POSINT:process.pid:long}\])?:"
    r" %{GREEDYDATA} (%{IPORHOST:source.address}|-):%{POSINT:source.port:long} %{WORD}"
    r" %{IPORHOST:destination.ip}:%{POSINT:destination.port:long} \(%{WORD:haproxy.frontend_name}/%{WORD:haproxy.mode}\)",
    r"(%{NOTSPACE:process.name}\[%{NUMBER:process.pid:long}\]: )?(%{IP:source.address}|-):%{NUMBER:source.port:long}"
    r" \[%{NOTSPACE:haproxy.request_date}\] %{NOTSPACE:haproxy.frontend_name} %{NOTSPACE:haproxy.backend_name}/%{NOTSPACE:haproxy.server_name}"
    r" (%{IPORHOST:destination.address} )?%{NUMBER:haproxy.http.request.time_wait_ms:long}/%{NUMBER:haproxy.total_waiting_time_ms:long}/%{NUMBER:haproxy.connection_wait_time_ms:long}/%{NUMBER:haproxy.http.request.time_wait_without_data_ms:long}/%{NUMBER:temp.duration:long}"
    r" %{NUMBER:http.response.status_code:long} %{NUMBER:haproxy.bytes_read:long} %{NOTSPACE:haproxy.http.request.captured_cookie}"
    r" %{NOTSPACE:haproxy.http.response.captured_cookie} %{NOTSPACE:haproxy.termination_state}"
    r" %{NUMBER:haproxy.connections.active:long}/%{NUMBER:haproxy.connections.frontend:long}/%{NUMBER:haproxy.connections.backend:long}/%{NUMBER:haproxy.connections.server:long}/%{NUMBER:haproxy.connections.retries:long}"
    r" %{NUMBER:haproxy.server_queue:long}/%{NUMBER:haproxy.backend_queue:long} (\{%{DATA:haproxy.http.request.captured_headers}\}"
    r" \{%{DATA:haproxy.http.response.captured_headers}\} |\{%{DATA}\} )?\"%{GREEDYDATA:haproxy.http.request.raw_request_line}\"",
    r"(%{NOTSPACE:process.name}\[%{NUMBER:process.pid:long}\]: )?(%{IP:source.address}|-):%{NUMBER:source.port:long}"
    r" \[%{NOTSPACE:haproxy.request_date}\] %{NOTSPACE:haproxy.frontend_name}/%{NOTSPACE:haproxy.bind_name}"
    r" %{GREEDYDATA:haproxy.error_message}",
    r"%{HAPROXY_DATE} %{IPORHOST:haproxy.source} (%{NOTSPACE:process.name}\[%{NUMBER:process.pid:long}\]:"
    r" )?(%{IP:source.address}|-):%{NUMBER:source.port:long} \[%{NOTSPACE:haproxy.request_date}\]"
    r" %{NOTSPACE:haproxy.frontend_name} %{NOTSPACE:haproxy.backend_name}/%{NOTSPACE:haproxy.server_name}"
    r" %{NUMBER:haproxy.total_waiting_time_ms:long}/%{NUMBER:haproxy.connection_wait_time_ms:long}/%{NUMBER:temp.duration:long}"
    r" %{NUMBER:haproxy.bytes_read:long} %{NOTSPACE:haproxy.termination_state} %{NUMBER:haproxy.connections.active:long}/%{NUMBER:haproxy.connections.frontend:long}/%{NUMBER:haproxy.connections.backend:long}/%{NUMBER:haproxy.connections.server:long}/%{NUMBER:haproxy.connections.retries:long}"
    r" %{NUMBER:haproxy.server_queue:long}/%{NUMBER:haproxy.backend_queue:long}",
]

HAPROXY_LOG_DEFINITIONS = {
    "HAPROXY_DATE":
        r"(%{MONTHDAY}[/-]%{MONTH}[/-]%{YEAR}:%{HOUR}:%{MINUTE}:%{SECOND})|%{SYSLOGTIMESTAMP}",
}


def haproxy_log(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """haproxy/log/ingest/pipeline.yml: 4-pattern bank (default/httplog/
    errorlog/tcplog layouts, verbatim), request-line grok, ip-vs-domain
    splits, captured-header splits, duration ns, ECS appends."""
    out = P.grok(df, HAPROXY_LOG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=HAPROXY_LOG_DEFINITIONS)
    p = F.col("parsed")
    out = P.timestamp(out, "parsed.haproxy_request_date",
                      ["02/Jan/2006:15:04:05.999"], target="timestamp",
                      timezone=timezone)
    raw = p["haproxy_http_request_raw_request_line"]
    m = F.regexp_extract(raw, r"^(\S+)\s+(\S+)\s+HTTP/(\S+)$", 1)
    out = out.withColumn("http_request_method", F.when(m != "", m))
    u = F.regexp_extract(raw, r"^(\S+)\s+(\S+)\s+HTTP/(\S+)$", 2)
    out = out.withColumn("url_original", F.when(u != "", u))
    v = F.regexp_extract(raw, r"^(\S+)\s+(\S+)\s+HTTP/(\S+)$", 3)
    out = out.withColumn("http_version", F.when(v != "", v))
    out = out.withColumn("source_ip", _ip_or_domain(p["source_address"])[0])
    dst_ip, dst_domain = _ip_or_domain(p["destination_address"])
    out = out.withColumn(
        "destination_ip", F.coalesce(p["destination_ip"], dst_ip)
    )
    out = out.withColumn("destination_domain", dst_domain)
    for side in ("request", "response"):
        cap = p[f"haproxy_http_{side}_captured_headers"]
        # ES split = Java String.split: trailing empty strings are dropped
        # ('a||' → ['a'], '|||' → []); the processor replaces the field in
        # place, so rewrite the parsed struct entry
        trimmed = F.regexp_replace(cap, r"\|+$", "")
        split_col = (
            F.when(cap.isNull(), F.lit(None).cast("array<string>"))
            .when(trimmed == "", F.array().cast("array<string>"))
            .otherwise(F.split(trimmed, r"\|"))
        )
        out = out.withColumn(
            "parsed",
            F.when(
                F.col("parsed").isNotNull(),
                F.col("parsed").withField(
                    f"haproxy_http_{side}_captured_headers", split_col
                ),
            ),
        )
    out = out.withColumn(
        "event_duration", (p["temp_duration"] * F.lit(1000000)).try_cast("long")
    )
    status = p["http_response_status_code"]
    has_http = (
        status.isNotNull() | (m != "") | p["haproxy_http_request_captured_cookie"].isNotNull()
    )
    out = out.withColumn(
        "http_response_bytes", F.when(has_http, p["haproxy_bytes_read"])
    )
    out = out.withColumn("event_kind", F.lit("event"))
    both = F.col("source_ip").isNotNull() & F.col("destination_ip").isNotNull()
    is_web = (p["haproxy_mode"] == "HTTP") | has_http
    out = out.withColumn(
        "event_category",
        F.when(F.coalesce(is_web, F.lit(False)) & both,
               F.array(F.lit("web"), F.lit("network")))
        .when(F.coalesce(is_web, F.lit(False)), F.array(F.lit("web")))
        .when(both, F.array(F.lit("network"))),
    )
    out = out.withColumn("event_type", F.when(both, F.array(F.lit("connection"))))
    out = out.withColumn("event_outcome", _http_outcome(status))
    out = out.withColumn(
        "related_ip",
        F.filter(F.array(F.col("source_ip"), F.col("destination_ip")),
                 lambda x: x.isNotNull()),
    )
    out = out.withColumn(
        "related_ip", F.when(F.size("related_ip") > 0, F.col("related_ip"))
    )
    out = out.withColumn(
        "related_hosts",
        F.when(F.col("destination_domain").isNotNull(),
               F.array(F.col("destination_domain"))),
    )
    return out


# -- postgresql.log CSV path (postgresql/log/ingest/pipeline-csv.yml) --------

PG_CSV_FIELDS = [
    "user_name", "postgresql_log_database", "process_pid",
    "tempcsv_connection_from", "postgresql_log_session_id",
    "tempcsv_session_line_num", "postgresql_log_command_tag",
    "tempcsv_session_start_time", "postgresql_log_virtual_transaction_id",
    "postgresql_log_transaction_id", "log_level",
    "postgresql_log_sql_state_code", "tempcsv_message",
    "postgresql_log_detail", "postgresql_log_hint",
    "postgresql_internal_query", "tempcsv_internal_query_pos",
    "postgresql_log_context", "postgresql_log_query", "tempcsv_query_pos",
    "postgresql_log_location", "postgresql_log_application_name",
    "postgresql_log_backend_type",
]

_PG_QUERY_STEP = r"(parse|bind|statement|fastpath function call|execute|execute fetch from)"


def postgresql_csv(df: DataFrame) -> DataFrame:
    """postgresql/log/ingest/pipeline.yml (entry split, separator == ',') +
    pipeline-csv.yml: 23-column csv decode (from_csv — quote-doubling
    escape, embedded newlines), connection_from split, duration/query-step
    message grok as regexp extracts, zone-name session/record timestamps."""
    out = P.grok(df, POSTGRESQL_ENTRY_PATTERNS,
                 target_prefix="entry",
                 pattern_definitions=POSTGRESQL_ENTRY_DEFINITIONS)
    e = F.col("entry")
    schema = ", ".join(f"c{i} string" for i in range(23))
    out = out.withColumn(
        "csv",
        F.from_csv(e["raw_message"], schema,
                   {"escape": '"', "multiLine": "true"}),
    )
    c = F.col("csv")
    # csv trim + empty→absent
    for i, name in enumerate(PG_CSV_FIELDS):
        v = F.trim(c[f"c{i}"])
        out = out.withColumn(name, F.when(v != "", v))
    conn = F.col("tempcsv_connection_from")
    out = out.withColumn(
        "postgresql_log_client_addr",
        F.when(conn.isNotNull(),
               F.regexp_extract(conn, r"^(.*?)(?::(\d+))?$", 1)),
    )
    port = F.regexp_extract(conn, r"^(.*?)(?::(\d+))?$", 2)
    out = out.withColumn(
        "postgresql_log_client_port",
        F.when(port != "", port).try_cast("int"),
    )
    out = out.withColumn(
        "postgresql_log_session_line_num",
        F.col("tempcsv_session_line_num").try_cast("long"),
    )
    out = out.withColumn(
        "postgresql_log_transaction_id",
        F.col("postgresql_log_transaction_id").try_cast("long"),
    )
    out = out.withColumn(
        "postgresql_log_session_start_time",
        P.parse_timestamp(F.col("tempcsv_session_start_time"), _PG_TS_LAYOUTS),
    )
    # tempcsv.message grok: duration / query-step variants
    msg = F.col("tempcsv_message")
    dur = F.regexp_extract(msg, r"^duration: (\d+(?:\.\d+)?) ms", 1)
    out = out.withColumn(
        "temp_duration", F.when(dur != "", dur).try_cast("double")
    )
    step_only = F.regexp_extract(
        msg, rf"^duration: \d+(?:\.\d+)? ms  ({_PG_QUERY_STEP}) "
             rf"(\S+): ((?s:.*))$", 1)
    step_named = F.regexp_extract(
        msg, rf"^duration: \d+(?:\.\d+)? ms  ({_PG_QUERY_STEP}) "
             rf"(\S+): ((?s:.*))$", 3)
    name_msg = F.regexp_extract(
        msg, rf"^duration: \d+(?:\.\d+)? ms  ({_PG_QUERY_STEP}) "
             rf"(\S+): ((?s:.*))$", 4)
    step_plain = F.regexp_extract(
        msg, rf"^duration: \d+(?:\.\d+)? ms  ({_PG_QUERY_STEP}): ((?s:.*))$", 1)
    plain_msg = F.regexp_extract(
        msg, rf"^duration: \d+(?:\.\d+)? ms  ({_PG_QUERY_STEP}): ((?s:.*))$", 3)
    bare_step = F.regexp_extract(msg, rf"^({_PG_QUERY_STEP}): ((?s:.*))$", 1)
    bare_msg = F.regexp_extract(msg, rf"^({_PG_QUERY_STEP}): ((?s:.*))$", 3)
    out = out.withColumn(
        "postgresql_log_query_step",
        F.when(step_plain != "", step_plain)
        .when(step_only != "", step_only)
        .when(bare_step != "", bare_step),
    )
    out = out.withColumn(
        "postgresql_log_query_name", F.when(step_named != "", step_named)
    )
    out = out.withColumn(
        "message_out",
        F.when(dur != "", F.when(plain_msg != "", plain_msg)
               .when(name_msg != "", name_msg))
        .otherwise(F.when(bare_msg != "", bare_msg).otherwise(msg)),
    )
    ts = e["postgresql_log_timestamp"]
    out = out.withColumn("postgresql_log_timestamp", ts)
    out = out.withColumn("event_timezone", e["event_timezone"])
    out = out.withColumn("timestamp", P.parse_timestamp(ts, _PG_TS_LAYOUTS))
    out = out.withColumn(
        "event_duration",
        F.round(F.col("temp_duration") * 1e6).try_cast("long"),
    )
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.array(F.lit("database")))
    # sql_state_code classes 00/01/02 are success/warning/no-data → info;
    # anything else is an error condition (pipeline.yml:46-55)
    code = F.col("postgresql_log_sql_state_code")
    out = out.withColumn(
        "event_type",
        F.when(code.isNull() | code.rlike(r"^0[012]"), F.array(F.lit("info")))
        .otherwise(F.array(F.lit("error"))),
    )
    out = out.withColumn(
        "related_user",
        F.when(F.col("user_name").isNotNull(), F.array(F.col("user_name"))),
    )
    return out


# -- mongodb.log (mongodb/log/ingest/pipeline{,-plaintext,-json}.yml) --------

MONGODB_LOG_PATTERNS = [
    r"%{TIMESTAMP_ISO8601:mongodb.log.timestamp}%{SPACE}"
    r"%{MONGO3_SEVERITY:log.level}%{SPACE}"
    r"%{MONGO3_COMPONENT:mongodb.log.component}%{SPACE}"
    r"(?:\[%{DATA:mongodb.log.context}\])?%{SPACE}%{GREEDYDATA:message}",
]

_MONGODB_JSON_SCHEMA = (
    "t struct<`$date`:string>, s string, c string, id bigint, "
    "ctx string, msg string"
)


def mongodb_log(df: DataFrame) -> DataFrame:
    """mongodb/log/ingest/pipeline.yml: branch on first char — plaintext
    3.x grok vs 4.4 structured JSON (from_json, no UDF) — then the shared
    component/severity → event.type classification."""
    out, _, pick = _plain_or_json(df, MONGODB_LOG_PATTERNS,
                                  schema=_MONGODB_JSON_SCHEMA)
    p, j = F.col("parsed"), F.col("js")
    lvl = pick(j["s"], p["log_level"])
    comp = pick(j["c"], p["mongodb_log_component"])
    out = out.withColumn("log_level", lvl)
    out = out.withColumn("mongodb_log_component", comp)
    out = out.withColumn("mongodb_log_context",
                         pick(j["ctx"], p["mongodb_log_context"]))
    out = out.withColumn("mongodb_log_id", j["id"])
    out = out.withColumn("event_original", pick(F.col("message")))
    out = out.withColumn("message_out", pick(j["msg"], p["message"]))
    out = out.withColumn("timestamp", pick(
        P.parse_timestamp(j["t"]["$date"], [_MS_OFFSET]),
        P.parse_timestamp(p["mongodb_log_timestamp"],
                          [_MS_OFFSET_NOCOLON, _MS_OFFSET]),
    ))
    base_type = (
        F.when(comp == "ACCESS", F.array(F.lit("access")))
        .when(comp == "WRITE", F.array(F.lit("change")))
        .otherwise(F.array(F.lit("info")))
    )
    out = out.withColumn(
        "event_type",
        F.when(lvl.isin("F", "E"), F.concat(base_type, F.array(F.lit("error"))))
        .otherwise(base_type),
    )
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.array(F.lit("database")))
    return out.drop("js")


# -- logstash.log (logstash/log/ingest/pipeline{,-plaintext,-json}.yml) ------

LOGSTASH_LOG_PATTERNS = [
    r"\[%{TIMESTAMP_ISO8601:logstash.log.timestamp}\]\[%{LOGSTASH_LOGLEVEL:log.level}\s?\]"
    r"\[%{LOGSTASH_CLASS_MODULE:logstash.log.module}\s*\]\[%{NOTSPACE:logstash.log.pipeline_id}\]"
    r"\[%{NOTSPACE:logstash.log.plugin_id}\] %{GREEDYMULTILINE:message}",
    r"\[%{TIMESTAMP_ISO8601:logstash.log.timestamp}\]\[%{LOGSTASH_LOGLEVEL:log.level}\s?\]"
    r"\[%{LOGSTASH_CLASS_MODULE:logstash.log.module}\s*\]\[%{NOTSPACE:logstash.log.pipeline_id}\]"
    r" %{GREEDYMULTILINE:message}",
    r"\[%{TIMESTAMP_ISO8601:logstash.log.timestamp}\]\[%{LOGSTASH_LOGLEVEL:log.level}\s?\]"
    r"\[%{LOGSTASH_CLASS_MODULE:logstash.log.module}\s*\] %{GREEDYMULTILINE:message}",
]

LOGSTASH_LOG_DEFINITIONS = {
    "LOGSTASH_CLASS_MODULE": r"[\w\.]+",
    "LOGSTASH_LOGLEVEL": r"INFO|ERROR|DEBUG|FATAL|WARN|TRACE",
    "GREEDYMULTILINE": "(.|\n)*",
}

_LOGSTASH_JSON_SCHEMA = (
    "level string, loggerName string, timeMillis bigint, thread string, "
    "logEvent struct<message:string, count:bigint, pipeline_id:string, "
    "port:bigint, status:bigint, thread:string, action:array<string>>"
)


def logstash_log(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """logstash/log/ingest/pipeline.yml: first-char branch — plain-format
    grok bank vs log4j2 JSON (from_json; logEvent's deep dynamic keys
    beyond the declared scalars are out of scope)."""
    out, _, pick = _plain_or_json(df, LOGSTASH_LOG_PATTERNS,
                                  LOGSTASH_LOG_DEFINITIONS,
                                  _LOGSTASH_JSON_SCHEMA)
    p, j = F.col("parsed"), F.col("js")
    lvl = pick(j["level"], p["log_level"])
    out = out.withColumn("log_level", lvl)
    out = out.withColumn("logstash_log_module",
                         pick(j["loggerName"], p["logstash_log_module"]))
    out = out.withColumn("logstash_log_thread", j["thread"])
    out = out.withColumn("logstash_log_log_event", j["logEvent"])
    out = out.withColumn("message_out",
                         pick(j["logEvent"]["message"], p["message"]))
    out = out.withColumn("timestamp", pick(
        F.timestamp_millis(j["timeMillis"]),
        P.parse_timestamp(p["logstash_log_timestamp"], [_COMMA_MS], timezone),
    ))
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(lvl.isin("ERROR", "FATAL"), "error").otherwise("info"),
    )
    return out.drop("js")


# -- nats.log (nats/log/ingest/pipeline.yml) ---------------------------------

NATS_LOG_PATTERNS = [
    r"\[%{POSINT:process.pid}\]( %{NATSTIME:nats.log.timestamp})? "
    r"\[%{NATSLOGLEVEL:log.level}\] %{GREEDYDATA:nats.log.info}",
]

NATS_LOG_DEFINITIONS = {
    "NATSTIME": r"%{YEAR}/%{MONTHNUM}/%{MONTHDAY} %{TIME}",
    "NATSLOGLEVEL": r"(INF|DBG|WRN|ERR|FTL|TRC)",
}

NATS_INFO_PATTERNS = [
    r"%{IPV4:client.ip}:%{POSINT:client.port} - cid:%{POSINT:nats.log.client.id}"
    r" - %{GREEDYDATA:nats.log.msg.info}",
    r"%{GREEDYDATA:nats.log.msg.data}",
]

# the -ERROR pattern carries a fixed closing bracket: the reference YAML has
# a literal typo (`nats.log.msg.error\]` — unterminated semantic) that can
# never compile; everything else is verbatim
NATS_MSG_PATTERNS = [
    r"%{NATSDIRECTION:network.direction} %{NATSPAYLOAD:nats.log.msg.type}: \[%{GREEDYDATA:nats.log.msg.payload}\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSNOINFO:nats.log.msg.type}\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSUNSUB:nats.log.msg.type}\s+%{POSINT:nats.log.msg.sid}(\s+%{POSINT:nats.log.msg.max_messages})?\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSPUB:nats.log.msg.type}\s+%{NOTSPACE:nats.log.msg.subject}(\s+%{NOTSPACE:nats.log.msg.reply_to})?\s+%{POSINT:nats.log.msg.bytes}\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSSUB:nats.log.msg.type}\s+%{NOTSPACE:nats.log.msg.subject}(\s+%{NOTSPACE:nats.log.msg.queue_group})?\s+%{POSINT:nats.log.msg.sid}\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSMSG:nats.log.msg.type}\s+%{NOTSPACE:nats.log.msg.subject}\s+%{POSINT:nats.log.msg.sid}(\s+%{NOTSPACE:nats.log.msg.reply_to})?\s+%{POSINT:nats.log.msg.bytes}\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSCONNECTION:nats.log.msg.type}\s+%{GREEDYDATA:nats.log.msg.data}\]",
    r"%{NATSDIRECTION:network.direction} \[%{NATSERROR:nats.log.msg.type}\s+%{GREEDYDATA:nats.log.msg.error}\]",
    r"%{GREEDYDATA:nats.log.msg.data}",
]

NATS_MSG_DEFINITIONS = {
    "NATSDIRECTION": r"(<<-|->>)",
    "NATSMSG": r"MSG", "NATSPUB": r"PUB", "NATSSUB": r"SUB",
    "NATSUNSUB": r"UNSUB", "NATSPAYLOAD": r"MSG_PAYLOAD",
    "NATSERROR": r"-ERROR", "NATSPING": r"PING", "NATSPONG": r"PONG",
    "NATSOK": r"OK", "NATSCONNECT": r"CONNECT", "NATSINFO": r"INFO",
    "NATSCONNECTION": r"(?:%{NATSCONNECT}|%{NATSINFO})",
    "NATSNOINFO": r"(?:%{NATSPING}|%{NATSPONG}|%{NATSOK})",
}

_NATS_LEVELS = {"INF": "info", "DBG": "debug", "WRN": "warning",
                "ERR": "error", "FTL": "fatal", "TRC": "trace"}

_NATS_TYPES = {"MSG": "message", "PUB": "publish", "SUB": "subscribe",
               "UNSUB": "unsubscribe", "MSG_PAYLOAD": "payload",
               "-ERROR": "error", "PING": "ping", "PONG": "pong",
               "OK": "acknowledge", "CONNECT": "connection",
               "INFO": "information"}


def _map_chain(col, mapping):
    out = None
    for k, v in mapping.items():
        out = (F.when(col == k, v) if out is None
               else out.when(col == k, v))
    return out.otherwise(col)


def nats_log(df: DataFrame) -> DataFrame:
    """nats/log/ingest/pipeline.yml: three chained groks (frame, client
    split, protocol-message split), the level/type/direction maps as
    when-chains, micros timestamp, info+error event.type appends."""
    out = P.grok_chain(df, [
        {"patterns": NATS_LOG_PATTERNS, "target": "parsed",
         "pattern_definitions": NATS_LOG_DEFINITIONS},
        {"patterns": NATS_INFO_PATTERNS, "target": "p2",
         "input": ("parsed", "nats_log_info")},
        {"patterns": NATS_MSG_PATTERNS, "target": "p3",
         "pattern_definitions": NATS_MSG_DEFINITIONS,
         "input": ("p2", "nats_log_msg_info")},
    ])
    p = F.col("parsed")
    out = out.withColumn(
        "parsed",
        F.col("parsed").withField("log_level",
                                  _map_chain(p["log_level"], _NATS_LEVELS)),
    )
    out = out.withColumn("_info", F.col("parsed")["nats_log_info"])
    p2 = F.col("p2")
    out = out.withColumn("_msg_info", p2["nats_log_msg_info"])
    p3 = F.col("p3")
    out = out.withColumn("client_ip", p2["client_ip"])
    out = out.withColumn("client_port", p2["client_port"])
    out = out.withColumn("nats_log_client_id", p2["nats_log_client_id"])
    out = out.withColumn(
        "nats_log_msg_type", _map_chain(p3["nats_log_msg_type"], _NATS_TYPES)
    )
    for leaf in ("sid", "max_messages", "subject", "reply_to", "bytes",
                 "queue_group", "error"):
        out = out.withColumn(f"nats_log_msg_{leaf}", p3[f"nats_log_msg_{leaf}"])
    out = out.withColumn(
        "network_direction",
        F.when(p3["network_direction"] == "<<-", "inbound")
        .when(p3["network_direction"] == "->>", "outbound"),
    )
    out = out.withColumn(
        "message_out",
        F.coalesce(p3["nats_log_msg_data"], p2["nats_log_msg_data"]),
    )
    out = P.timestamp(out, "parsed.nats_log_timestamp",
                      ["2006/01/02 15:04:05.999999"], target="timestamp")
    lvl = F.col("parsed")["log_level"]
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(lvl.isin("error", "fatal"),
               F.array(F.lit("info"), F.lit("error")))
        .otherwise(F.array(F.lit("info"))),
    )
    out = out.withColumn(
        "related_ip",
        F.when(p2["client_ip"].isNotNull(), F.array(p2["client_ip"])),
    )
    return out.drop("_info", "_msg_info")


# -- santa.log (santa/log/ingest/pipeline.yml) -------------------------------

SANTA_LOG_PATTERNS = [
    r"\[%{TIMESTAMP_ISO8601:process.start}\] %{NOT_SEPARATOR:log.level} santad: "
    r"action=%{NOT_SEPARATOR:santa.action}\|decision=%{NOT_SEPARATOR:santa.decision}"
    r"\|reason=%{NOT_SEPARATOR:santa.reason}\|sha256=%{NOT_SEPARATOR:process.hash.sha256}"
    r"\|path=%{NOT_SEPARATOR:process.executable}(\|args=%{NOT_SEPARATOR:santa.args})?"
    r"(\|cert_sha256=%{NOT_SEPARATOR:santa.certificate.sha256})?"
    r"(\|cert_cn=%{NOT_SEPARATOR:santa.certificate.common_name})?"
    r"\|pid=%{NUMBER:process.pid:long}\|ppid=%{NUMBER:process.parent.pid:long}"
    r"\|uid=%{NUMBER:user.id}\|user=%{NOT_SEPARATOR:user.name}"
    r"\|gid=%{NUMBER:group.id}\|group=%{NOT_SEPARATOR:group.name}"
    r"\|mode=%{WORD:santa.mode}",
    r"\[%{TIMESTAMP_ISO8601:timestamp}\] %{NOT_SEPARATOR:log.level} santad: "
    r"action=%{NOT_SEPARATOR:santa.action}\|mount=%{NOT_SEPARATOR:santa.disk.mount}"
    r"\|volume=%{NOT_SEPARATOR:santa.disk.volume}\|bsdname=%{NOT_SEPARATOR:santa.disk.bsdname}"
    r"\|fs=%{NOT_SEPARATOR:santa.disk.fs}\|model=%{NOT_SEPARATOR:santa.disk.model}"
    r"\|serial=%{NOT_SEPARATOR:santa.disk.serial}\|bus=%{NOT_SEPARATOR:santa.disk.bus}"
    r"\|dmgpath=%{NOT_SEPARATOR:santa.disk.dmgpath}?",
]

SANTA_LOG_DEFINITIONS = {"NOT_SEPARATOR": r"[^\|]+"}


def santa_log(df: DataFrame) -> DataFrame:
    """santa/log/ingest/pipeline.yml: EXEC/diskappear grok pair, args split
    prepended with the executable, ALLOW/DENY outcome, lowercase action,
    related.user/hash appends."""
    out = P.grok(df, SANTA_LOG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=SANTA_LOG_DEFINITIONS)
    p = F.col("parsed")
    out = out.withColumn("event_original", F.col("message"))
    ts = F.coalesce(p["process_start"], p["timestamp"])
    parsed_ts = P.parse_timestamp(ts, [_MS_OFFSET, "2006-01-02T15:04:05Z07:00"])
    out = out.withColumn("timestamp", parsed_ts)
    out = out.withColumn(
        "process_start", F.when(p["process_start"].isNotNull(), parsed_ts)
    )
    args = F.split(p["santa_args"], " ")
    out = out.withColumn(
        "process_args",
        F.when(
            p["process_executable"].isNotNull(),
            F.when(p["santa_args"].isNotNull(),
                   F.concat(F.array(p["process_executable"]), args))
            .otherwise(F.array(p["process_executable"])),
        ),
    )
    out = out.withColumn("event_kind", F.lit("event"))
    is_exec = p["santa_action"] == "EXEC"
    out = out.withColumn(
        "event_category", F.when(is_exec, F.array(F.lit("process")))
    )
    out = out.withColumn("event_type", F.when(is_exec, F.array(F.lit("start"))))
    out = out.withColumn(
        "event_outcome",
        F.when(p["santa_decision"] == "ALLOW", "success")
        .when(p["santa_decision"] == "DENY", "failure"),
    )
    out = out.withColumn("event_action", F.lower(p["santa_action"]))
    out = out.withColumn(
        "related_user",
        F.when(p["user_name"].isNotNull(), F.array(p["user_name"])),
    )
    rel_hash = F.filter(
        F.array(p["santa_certificate_sha256"], p["process_hash_sha256"]),
        lambda x: x.isNotNull(),
    )
    out = out.withColumn(
        "related_hash", F.when(F.size(rel_hash) > 0, rel_hash)
    )
    out = out.withColumn(
        "file_x509_issuer_common_name", p["santa_certificate_common_name"]
    )
    return out


# -- mysql.slowlog (mysql/slowlog/ingest/pipeline.json) ----------------------

# the single ~55-optional-group metrics pattern, carried verbatim
MYSQL_SLOWLOG_PATTERNS = ['^# User@Host: %{USER:user.name}(\\[%{USER:mysql.slowlog.current_user}\\])? @ %{HOSTNAME:source.domain}? \\[%{IP:source.ip}?\\]%{METRICSPACE}(Id:%{SPACE}%{NUMBER:mysql.thread_id:long}%{METRICSPACE})?(Thread_id:%{SPACE}%{NUMBER:mysql.thread_id}%{METRICSPACE})?(Schema:%{SPACE}%{NOTSPACE:mysql.slowlog.schema}?%{METRICSPACE})?(Last_errno: %{NUMBER:mysql.slowlog.last_errno:long}%{METRICSPACE})?(Killed: %{NUMBER:mysql.slowlog.killed:long}%{METRICSPACE})?(QC_hit: %{WORD:mysql.slowlog.query_cache_hit}%{METRICSPACE})?(Query_time: %{NUMBER:temp.duration:float}%{METRICSPACE})?(Lock_time: %{NUMBER:mysql.slowlog.lock_time.sec:float}%{METRICSPACE})?(Rows_sent: %{NUMBER:mysql.slowlog.rows_sent:long}%{METRICSPACE})?(Rows_examined: %{NUMBER:mysql.slowlog.rows_examined:long}%{METRICSPACE})?(Rows_affected: %{NUMBER:mysql.slowlog.rows_affected:long}%{METRICSPACE})?(Thread_id: %{NUMBER:mysql.thread_id}%{METRICSPACE})?(Errno: %{NUMBER:mysql.slowlog.last_errno:long}%{METRICSPACE})?(Killed: %{NUMBER:mysql.slowlog.killed:long}%{METRICSPACE})?(Bytes_received: %{NUMBER:mysql.slowlog.bytes_received:long}%{METRICSPACE})?(Bytes_sent: %{NUMBER:mysql.slowlog.bytes_sent:long}%{METRICSPACE})?(Read_first: %{NUMBER:mysql.slowlog.read_first:long}%{METRICSPACE})?(Read_last: %{NUMBER:mysql.slowlog.read_last:long}%{METRICSPACE})?(Read_key: %{NUMBER:mysql.slowlog.read_key:long}%{METRICSPACE})?(Read_next: %{NUMBER:mysql.slowlog.read_next:long}%{METRICSPACE})?(Read_prev: %{NUMBER:mysql.slowlog.read_prev:long}%{METRICSPACE})?(Read_rnd: %{NUMBER:mysql.slowlog.read_rnd:long}%{METRICSPACE})?(Read_rnd_next: %{NUMBER:mysql.slowlog.read_rnd_next:long}%{METRICSPACE})?(Sort_merge_passes: %{NUMBER:mysql.slowlog.sort_merge_passes:long}%{METRICSPACE})?(Sort_range_count: %{NUMBER:mysql.slowlog.sort_range_count:long}%{METRICSPACE})?(Sort_rows: %{NUMBER:mysql.slowlog.sort_rows:long}%{METRICSPACE})?(Sort_scan_count: %{NUMBER:mysql.slowlog.sort_scan_count:long}%{METRICSPACE})?(Created_tmp_disk_tables: %{NUMBER:mysql.slowlog.tmp_disk_tables:long}%{METRICSPACE})?(Created_tmp_tables: %{NUMBER:mysql.slowlog.tmp_tables:long}%{METRICSPACE})?(Tmp_tables: %{NUMBER:mysql.slowlog.tmp_tables:long}%{METRICSPACE})?(Tmp_disk_tables: %{NUMBER:mysql.slowlog.tmp_disk_tables}%{METRICSPACE})?(Tmp_table_sizes: %{NUMBER:mysql.slowlog.tmp_table_sizes:long}%{METRICSPACE})?(Start: %{TIMESTAMP_ISO8601:event.start}%{METRICSPACE})?(End: %{TIMESTAMP_ISO8601:event.end}%{METRICSPACE})?(InnoDB_trx_id: %{WORD:mysql.slowlog.innodb.trx_id}%{METRICSPACE})?(QC_Hit: %{WORD:mysql.slowlog.query_cache_hit}%{METRICSPACE})?(Full_scan: %{WORD:mysql.slowlog.full_scan}%{METRICSPACE})?(Full_join: %{WORD:mysql.slowlog.full_join}%{METRICSPACE})?(Tmp_table: %{WORD:mysql.slowlog.tmp_table}%{METRICSPACE})?(Tmp_table_on_disk: %{WORD:mysql.slowlog.tmp_table_on_disk}%{METRICSPACE})?(Filesort: %{WORD:mysql.slowlog.filesort}%{METRICSPACE})?(Filesort_on_disk: %{WORD:mysql.slowlog.filesort_on_disk}%{METRICSPACE})?(Merge_passes: %{NUMBER:mysql.slowlog.merge_passes:long}%{METRICSPACE})?(Priority_queue: %{WORD:mysql.slowlog.priority_queue}%{METRICSPACE})?(No InnoDB statistics available for this query%{METRICSPACE})?(InnoDB_IO_r_ops: %{NUMBER:mysql.slowlog.innodb.io_r_ops:long}%{METRICSPACE})?(InnoDB_IO_r_bytes: %{NUMBER:mysql.slowlog.innodb.io_r_bytes:long}%{METRICSPACE})?(InnoDB_IO_r_wait: %{NUMBER:mysql.slowlog.innodb.io_r_wait.sec:float}%{METRICSPACE})?(InnoDB_rec_lock_wait: %{NUMBER:mysql.slowlog.innodb.rec_lock_wait.sec:float}%{METRICSPACE})?(InnoDB_queue_wait: %{NUMBER:mysql.slowlog.innodb.queue_wait.sec:float}%{METRICSPACE})?(InnoDB_pages_distinct: %{NUMBER:mysql.slowlog.innodb.pages_distinct:long}%{METRICSPACE})?(Log_slow_rate_type: %{WORD:mysql.slowlog.log_slow_rate_type}%{METRICSPACE})?(Log_slow_rate_limit: %{NUMBER:mysql.slowlog.log_slow_rate_limit:long}%{METRICSPACE})?%{EXPLAIN}(use %{NOTSPACE:mysql.slowlog.schema};\n)?SET timestamp=%{NUMBER:mysql.slowlog.timestamp:long};\n%{GREEDYMULTILINE:mysql.slowlog.query}']

MYSQL_SLOWLOG_DEFINITIONS = {'GREEDYMULTILINE': '(.|\n)*', 'METRICSPACE': '([ #\n]*)', 'EXPLAIN': '(# explain:.*\n|#\\s*\n)*'}

_SLOWLOG_BOOL_FIELDS = [
    "query_cache_hit", "tmp_table", "tmp_table_on_disk", "filesort",
    "filesort_on_disk", "priority_queue", "full_scan", "full_join",
]


def mysql_slowlog(df: DataFrame) -> DataFrame:
    """mysql/slowlog/ingest/pipeline.json: one verbatim grok (every
    server/percona/mariadb metric as an optional group; duplicate
    semantics coalesce first-match-wins like the reference), Yes/No →
    boolean, duration µs→ns, UNIX timestamp, related appends."""
    out = P.grok(df, MYSQL_SLOWLOG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=MYSQL_SLOWLOG_DEFINITIONS)
    p = F.col("parsed")
    for b in _SLOWLOG_BOOL_FIELDS:
        name = f"mysql_slowlog_{b}"
        out = out.withColumn(
            "parsed",
            F.when(
                F.col("parsed").isNotNull(),
                F.col("parsed").withField(
                    name,
                    F.when(p[name] == "Yes", "true")
                    .when(p[name] == "No", "false")
                    .otherwise(p[name]),
                ),
            ),
        )
    # painless Float * Integer stays FLOAT: Math.round(duration * 1000000)
    # rounds the float product (e.g. 153.883484f*1e6 = 1.53883488E8, not
    # the double product ...483.88) — keep the multiply in float32
    fprod = p["temp_duration"] * F.lit(1000000).cast("float")
    out = out.withColumn(
        "event_duration",
        (F.round(fprod.cast("double")) * 1000).try_cast("long"),
    )
    out = out.withColumn(
        "timestamp", F.timestamp_seconds(p["mysql_slowlog_timestamp"])
    )
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.array(F.lit("database")))
    out = out.withColumn("event_type", F.array(F.lit("info")))
    out = out.withColumn(
        "related_user",
        F.when(p["user_name"].isNotNull(), F.array(p["user_name"])),
    )
    out = out.withColumn(
        "related_ip",
        F.when(p["source_ip"].isNotNull(), F.array(p["source_ip"])),
    )
    return out


# -- elasticsearch.server (elasticsearch/server/ingest/pipeline*.yml) --------

ES_SERVER_PT_DEFINITIONS = {
    "GREEDYMULTILINE": "(.|\n)*",
    "INDEXNAME": r"[a-zA-Z0-9_.-]*",
    "GC_ALL":
        r"\[gc\]\[%{NUMBER:elasticsearch.server.gc.overhead_seq}\] overhead, spent"
        r" \[%{NUMBER:elasticsearch.server.gc.collection_duration.time:float}%{DATA:elasticsearch.server.gc.collection_duration.unit}\]"
        r" collecting in the last \[%{NUMBER:elasticsearch.server.gc.observation_duration.time:float}%{DATA:elasticsearch.server.gc.observation_duration.unit}\]",
    "GC_YOUNG":
        r"\[gc\]\[young\]\[%{NUMBER:elasticsearch.server.gc.young.one}\]"
        r"\[%{NUMBER:elasticsearch.server.gc.young.two}\]%{SPACE}%{GREEDYMULTILINE:message}",
    "LOG_HEADER":
        r"\[%{TIMESTAMP_ISO8601:elasticsearch.server.timestamp}\]\[%{LOGLEVEL:log.level}%{SPACE}\]"
        r"\[%{DATA:elasticsearch.component}%{SPACE}\](%{SPACE})?(\[%{DATA:elasticsearch.node.name}\])?(%{SPACE})?",
}

ES_SERVER_PT_PATTERNS = [
    r"%{LOG_HEADER}%{GC_ALL}",
    r"%{LOG_HEADER}%{GC_YOUNG}",
    r"%{LOG_HEADER}%{SPACE}((\[%{INDEXNAME:elasticsearch.index.name}\]"
    r"|\[%{INDEXNAME:elasticsearch.index.name}\/%{DATA:elasticsearch.index.id}\]))?"
    r"%{SPACE}%{GREEDYMULTILINE:message}",
]

_ES8_JSON_SCHEMA = (
    "`@timestamp` string, `log.level` string, message string, "
    "`ecs.version` string, `service.name` string, `event.dataset` string, "
    "`process.thread.name` string, `log.logger` string, "
    "`elasticsearch.cluster.uuid` string, `elasticsearch.node.id` string, "
    "`elasticsearch.node.name` string, `elasticsearch.cluster.name` string"
)


def elasticsearch_server(df: DataFrame,
                         timezone: str | None = None) -> DataFrame:
    """elasticsearch/server: first-char branch — 6.x plaintext grok
    (LOG_HEADER + gc variants + index-name split) vs 8.0 ECS-JSON
    (from_json over the flat dotted keys; rows whose event.dataset is not
    elasticsearch.server are dropped, exactly like the reference's drop
    processor); FATAL/ERROR → event.type=error, node name/id → host."""
    out, is_json, pick = _plain_or_json(df, ES_SERVER_PT_PATTERNS,
                                        ES_SERVER_PT_DEFINITIONS,
                                        _ES8_JSON_SCHEMA)
    p, j = F.col("parsed"), F.col("js")
    out = out.filter(
        ~is_json | (j["event.dataset"] == "elasticsearch.server")
    )
    lvl = pick(j["log.level"], p["log_level"])
    out = out.withColumn("log_level", lvl)
    out = out.withColumn(
        "elasticsearch_node_name",
        pick(j["elasticsearch.node.name"], p["elasticsearch_node_name"]),
    )
    out = out.withColumn("elasticsearch_component", p["elasticsearch_component"])
    out = out.withColumn("elasticsearch_index_name", p["elasticsearch_index_name"])
    out = out.withColumn("elasticsearch_index_id", p["elasticsearch_index_id"])
    for leaf in ("cluster.name", "cluster.uuid", "node.id"):
        out = out.withColumn("elasticsearch_" + leaf.replace(".", "_"),
                             j[f"elasticsearch.{leaf}"])
    out = out.withColumn("log_logger", j["log.logger"])
    out = out.withColumn("process_thread_name", j["process.thread.name"])
    out = out.withColumn("service_name", j["service.name"])
    out = out.withColumn("event_dataset", F.lit("elasticsearch.server"))
    out = out.withColumn("message_out", pick(j["message"], p["message"]))
    out = out.withColumn("timestamp", pick(
        P.parse_timestamp(j["@timestamp"], [_MS_OFFSET]),
        P.parse_timestamp(p["elasticsearch_server_timestamp"], [_COMMA_MS],
                          timezone),
    ))
    out = out.withColumn("event_kind", F.lit("event"))
    # scalar (not array<string>) on purpose: the elasticsearch pipelines use
    # `set` processors, not `append` — every golden under
    # filebeat/module/elasticsearch/*/test/*-expected.json records
    # "event.category": "database" as a plain string
    out = out.withColumn("event_category", F.lit("database"))
    out = out.withColumn(
        "event_type",
        F.when(lvl.isin("FATAL", "ERROR"), "error").otherwise("info"),
    )
    out = out.withColumn("host_name", F.col("elasticsearch_node_name"))
    out = out.withColumn("host_id", F.col("elasticsearch_node_id"))
    return out.drop("js")


# -- elasticsearch.gc (elasticsearch/gc/ingest/pipeline.yml) -----------------

ES_GC_DEFINITIONS = {
    "GREEDYMULTILINE": "(.|\n)*",
    "JVM8HEADER":
        r"%{TIMESTAMP_ISO8601:timestamp}: %{BASE10NUM:elasticsearch.gc.jvm_runtime_sec}:",
    "JVM9HEADER":
        r"\[%{TIMESTAMP_ISO8601:timestamp}\]\[%{POSINT:process.pid}\]"
        r"(\[%{DATA:log.level}%{SPACE}\])?\[%{DATA:elasticsearch.gc.tags}%{SPACE}\]",
    "PROCTIME":
        r"\[Times: user=%{BASE10NUM:elasticsearch.gc.phase.cpu_time.user_sec}"
        r" sys=%{BASE10NUM:elasticsearch.gc.phase.cpu_time.sys_sec},"
        r" real=%{BASE10NUM:elasticsearch.gc.phase.cpu_time.real_sec} secs\]",
}

ES_GC_PATTERNS = [
    r"(?:%{JVM8HEADER}|%{JVM9HEADER}) Total time for which application threads were"
    r" stopped: %{BASE10NUM:elasticsearch.gc.threads_total_stop_time_sec} seconds,"
    r" Stopping threads took: %{BASE10NUM:elasticsearch.gc.stopping_threads_time_sec}"
    r" seconds",
    r"(?:%{JVM8HEADER}) \[GC \(%{DATA:elasticsearch.gc.phase.name}\) \[YG occupancy:"
    r" %{BASE10NUM:elasticsearch.gc.young_gen.used_kb} K \(%{BASE10NUM:elasticsearch.gc.young_gen.size_kb}"
    r" K\)\]%{BASE10NUM}: \[Rescan \(parallel\) , %{BASE10NUM:elasticsearch.gc.phase.parallel_rescan_time_sec}"
    r" secs\]%{BASE10NUM}: \[weak refs processing, %{BASE10NUM:elasticsearch.gc.phase.weak_refs_processing_time_sec}"
    r" secs\]%{BASE10NUM}: \[class unloading, %{BASE10NUM:elasticsearch.gc.phase.class_unload_time_sec}"
    r" secs\]%{BASE10NUM}: \[scrub symbol table, %{BASE10NUM:elasticsearch.gc.phase.scrub_symbol_table_time_sec}"
    r" secs\]%{BASE10NUM}: \[scrub string table, %{BASE10NUM:elasticsearch.gc.phase.scrub_string_table_time_sec}"
    r" secs\]\[1 CMS-remark: %{BASE10NUM:elasticsearch.gc.old_gen.used_kb}K\(%{BASE10NUM:elasticsearch.gc.old_gen.size_kb}K\)\]"
    r" %{BASE10NUM:elasticsearch.gc.heap.used_kb}K\(%{BASE10NUM:elasticsearch.gc.heap.size_kb}K\),"
    r" %{BASE10NUM:elasticsearch.gc.phase.duration_sec} secs\] %{PROCTIME}",
    r"(?:%{JVM8HEADER}) \[GC \(%{DATA:elasticsearch.gc.phase.name}\) \[%{BASE10NUM}"
    r" CMS-initial-mark: %{BASE10NUM:elasticsearch.gc.old_gen.used_kb}K\(%{BASE10NUM:elasticsearch.gc.old_gen.size_kb}K\)\]"
    r" %{BASE10NUM:elasticsearch.gc.heap.used_kb}K\(%{BASE10NUM:elasticsearch.gc.heap.size_kb}K\),"
    r" %{BASE10NUM:elasticsearch.gc.phase.duration_sec} secs\] %{PROCTIME}",
    r"%{JVM9HEADER} GC\(%{BASE10NUM}\) ParNew: %{BASE10NUM}K-\>%{BASE10NUM:elasticsearch.gc.young_gen.used_kb}K\(%{BASE10NUM:elasticsearch.gc.young_gen.size_kb}K\)",
    r"%{JVM9HEADER} GC\(%{BASE10NUM}\) Old: %{BASE10NUM}K-\>%{BASE10NUM:elasticsearch.gc.old_gen.used_kb}K\(%{BASE10NUM:elasticsearch.gc.old_gen.size_kb}K\)",
    r"(?:%{JVM8HEADER}|%{JVM9HEADER}) %{GREEDYMULTILINE:message}",
]


def elasticsearch_gc(df: DataFrame) -> DataFrame:
    """elasticsearch/gc/ingest/pipeline.yml: the JVM8/JVM9 header composite
    grok bank verbatim, ISO8601 offset timestamp, tags split,
    event.kind=metric."""
    out = P.grok(df, ES_GC_PATTERNS, target_prefix="parsed",
                 pattern_definitions=ES_GC_DEFINITIONS)
    p = F.col("parsed")
    tags = p["elasticsearch_gc_tags"]
    # split replaces the field in place → rewrite the parsed struct entry
    out = out.withColumn(
        "parsed",
        F.when(
            F.col("parsed").isNotNull(),
            F.col("parsed").withField(
                "elasticsearch_gc_tags",
                F.when(tags.isNotNull(), F.split(tags, ",")),
            ),
        ),
    )
    out = P.timestamp(out, "parsed.timestamp", [_MS_OFFSET_NOCOLON, _MS_OFFSET],
                      target="timestamp")
    out = out.withColumn("event_kind", F.lit("metric"))
    # scalar on purpose — the gc pipeline `set`s these; goldens are scalar
    out = out.withColumn("event_category", F.lit("database"))
    out = out.withColumn("event_type", F.lit("info"))
    return out


# -- elasticsearch.deprecation (elasticsearch/deprecation/ingest/*) ----------

ES_DEPRECATION_PT_PATTERNS = [
    r"\[%{TIMESTAMP_ISO8601:elasticsearch.deprecation.timestamp}\]"
    r"\[%{DEP_LOGLEVEL:log.level}(%{SPACE})?\]\[%{DATA:elasticsearch.component}(%{SPACE})?\]"
    r"(%{SPACE}\[%{HOSTNAME:elasticsearch.node.name}\])? %{GREEDYMULTILINE:message}",
]

ES_DEPRECATION_PT_DEFINITIONS = {
    "GREEDYMULTILINE": "(.|\n)*",
    "DEP_LOGLEVEL": r"(%{LOGLEVEL}|DEPRECATION)",
}

_ES_DEP_JSON_SCHEMA = (
    "`@timestamp` string, `log.level` string, message string, "
    "`event.dataset` string, `data_stream.dataset` string, "
    "`data_stream.namespace` string, `data_stream.type` string, "
    "`elasticsearch.elastic_product_origin` string, "
    "`elasticsearch.event.category` string, "
    "`elasticsearch.http.request.x_opaque_id` string, "
    "`event.code` string, `service.name` string, `process.thread.name` string, "
    "`log.logger` string, `trace.id` string, "
    "`elasticsearch.cluster.uuid` string, `elasticsearch.node.id` string, "
    "`elasticsearch.node.name` string, `elasticsearch.cluster.name` string"
)


def elasticsearch_deprecation(df: DataFrame,
                              timezone: str | None = None) -> DataFrame:
    """elasticsearch/deprecation: plaintext LOG_HEADER variant (DEPRECATION
    level) vs 8.0 ECS-JSON; json rows with a foreign event.dataset are
    dropped; event.dataset normalized to elasticsearch.deprecation."""
    out, is_json, pick = _plain_or_json(df, ES_DEPRECATION_PT_PATTERNS,
                                        ES_DEPRECATION_PT_DEFINITIONS,
                                        _ES_DEP_JSON_SCHEMA)
    p, j = F.col("parsed"), F.col("js")
    out = out.filter(
        ~is_json
        | j["event.dataset"].isin("deprecation", "deprecation.elasticsearch")
    )
    out = out.withColumn("log_level", pick(j["log.level"], p["log_level"]))
    out = out.withColumn("elasticsearch_component", p["elasticsearch_component"])
    out = out.withColumn(
        "elasticsearch_node_name",
        pick(j["elasticsearch.node.name"], p["elasticsearch_node_name"]),
    )
    for flat in ("data_stream.dataset", "data_stream.namespace",
                 "data_stream.type", "elasticsearch.elastic_product_origin",
                 "elasticsearch.event.category",
                 "elasticsearch.http.request.x_opaque_id", "event.code",
                 "service.name", "process.thread.name", "log.logger",
                 "trace.id", "elasticsearch.cluster.uuid",
                 "elasticsearch.node.id", "elasticsearch.cluster.name"):
        out = out.withColumn(flat.replace(".", "_"), j[flat])
    out = out.withColumn("event_dataset", F.lit("elasticsearch.deprecation"))
    out = out.withColumn("message_out", pick(j["message"], p["message"]))
    out = out.withColumn("timestamp", pick(
        P.parse_timestamp(j["@timestamp"], [_MS_OFFSET]),
        P.parse_timestamp(p["elasticsearch_deprecation_timestamp"],
                          [_COMMA_MS], timezone),
    ))
    out = out.withColumn("event_kind", F.lit("event"))
    # scalar on purpose — the deprecation pipeline `set`s these; goldens
    # are scalar
    out = out.withColumn("event_category", F.lit("database"))
    out = out.withColumn("event_type", F.lit("info"))
    out = out.withColumn("host_id", F.col("elasticsearch_node_id"))
    out = out.withColumn("host_name", F.col("elasticsearch_node_name"))
    return out.drop("js")


# -- kibana.log (kibana/log/ingest/pipeline-7.yml, the 6.x/7.x json format) --

_KIBANA7_JSON_SCHEMA = (
    "type string, `@timestamp` string, tags array<string>, pid bigint, "
    "state string, message string, prevState string, prevMsg string, "
    "req struct<url:string, method:string, headers:map<string,string>, "
    "remoteAddress:string, userAgent:string, referer:string>, "
    "res struct<statusCode:bigint, responseTime:double, contentLength:bigint>"
)


def kibana_log(df: DataFrame) -> DataFrame:
    """kibana/log/ingest/pipeline-7.yml: ndjson decode + the rename chain
    (res.* → http.response.*, req.* → http.request/source/url/user_agent),
    responseTime ms→ns, red-state → event.type=error, status-class
    outcome. The 8.x ECS format (pipeline-ecs) is out of scope."""
    out = df.withColumn("meta", F.from_json(F.col("message"), _KIBANA7_JSON_SCHEMA))
    m = F.col("meta")
    out = out.withColumn("timestamp", P.parse_timestamp(
        m["@timestamp"], ["2006-01-02T15:04:05Z07:00", _MS_OFFSET]))
    out = out.withColumn("message_out", m["message"])
    out = out.withColumn("kibana_log_state", m["state"])
    out = out.withColumn("kibana_log_tags", m["tags"])
    out = out.withColumn("process_pid", m["pid"])
    status = m["res"]["statusCode"]
    out = out.withColumn("http_response_status_code", status)
    out = out.withColumn(
        "event_duration",
        F.round(m["res"]["responseTime"] * 1e6).try_cast("long"),
    )
    out = out.withColumn("http_response_body_bytes", m["res"]["contentLength"])
    out = out.withColumn("http_request_method", m["req"]["method"])
    out = out.withColumn(
        "http_request_referrer", F.element_at(m["req"]["headers"], "referer")
    )
    out = out.withColumn(
        "user_agent_original", F.element_at(m["req"]["headers"], "user-agent")
    )
    out = out.withColumn("source_address", m["req"]["remoteAddress"])
    out = out.withColumn("source_ip", m["req"]["remoteAddress"])
    out = out.withColumn("url_original", m["req"]["url"])
    out = out.withColumn("service_name", F.array(F.lit("kibana")))
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(m["state"].isNotNull(),
               F.when(m["state"] == "red", "error").otherwise("info")),
    )
    out = out.withColumn("event_outcome", _http_outcome(status))
    return out


# -- system.auth (system/auth/ingest/{files,grok-auth-messages}.yml) ---------

AUTH_HEADER_PATTERNS = [
    r"^%{TIMESTAMP:system.auth.timestamp} %{SYSLOGHOST:host.hostname}? "
    r"%{DATA:process.name}(?:\[%{POSINT:process.pid:long}\])?:"
    r"%{SPACE}%{GREEDYMULTILINE:_temp.message}$",
]

AUTH_HEADER_DEFINITIONS = {
    "GREEDYMULTILINE": r"(.|\n)*",
    "TIMESTAMP": r"(?:%{TIMESTAMP_ISO8601}|%{SYSLOGTIMESTAMP})",
}

# grok-auth-messages.yml — the sshd/sudo/groupadd/useradd specific bank
AUTH_MESSAGE_PATTERNS = [
    r"^%{DATA:system.auth.ssh.event} %{DATA:system.auth.ssh.method} for "
    r"(invalid user)?%{DATA:user.name} from %{IPORHOST:source.address} port "
    r"%{NUMBER:source.port:long} ssh2(: %{GREEDYDATA:system.auth.ssh.signature})?",
    r"^%{DATA:system.auth.ssh.event} user %{DATA:user.name} from "
    r"%{IPORHOST:source.address}",
    r"^Did not receive identification string from "
    r"%{IPORHOST:system.auth.ssh.dropped_ip}",
    r"^%{DATA:user.name} :( %{DATA:system.auth.sudo.error} ;)? "
    r"TTY=%{DATA:system.auth.sudo.tty} ; PWD=%{DATA:system.auth.sudo.pwd} ; "
    r"USER=%{DATA:system.auth.sudo.user} ; "
    r"COMMAND=%{GREEDYDATA:system.auth.sudo.command}",
    r"^new group: name=%{DATA:group.name}, GID=%{NUMBER:group.id}",
    r"^new user: name=%{DATA:user.name}, UID=%{NUMBER:user.id}, "
    r"GID=%{NUMBER:group.id}, home=%{DATA:system.auth.useradd.home}, "
    r"shell=%{DATA:system.auth.useradd.shell}$",
]

# files.yml grok-pam-users — usernames from unmatched PAM messages
AUTH_PAM_PATTERNS = [
    r"for user %{QUOTE}?%{DATA:_temp.foruser}%{QUOTE}? by "
    r"%{QUOTE}?%{DATA:_temp.byuser}%{QUOTE}?(?:\(uid=%{NUMBER:_temp.byuid}\))?$",
    r"for user %{QUOTE}?%{DATA:_temp.foruser}%{QUOTE}?$",
    r"by user %{QUOTE}?%{DATA:_temp.byuser}%{QUOTE}?$",
    r"%{BOUNDARY} user %{QUOTE}%{DATA:_temp.user}%{QUOTE}",
]

AUTH_PAM_DEFINITIONS = {
    "QUOTE": "['\"]",
    "BOUNDARY": "(?<! )",
}

_IAM_USER_PROCS = ["useradd", "userdel", "usermod"]
_IAM_GROUP_PROCS = ["groupadd", "groupdel", "groupmod"]
_IAM_PROCS = _IAM_USER_PROCS + _IAM_GROUP_PROCS

# the date processor's formats ('MMM  d HH:mm:ss', 'MMM dd HH:mm:ss',
# ISO8601) as Go layouts; offset-carrying ISO forms parse to an absolute
# instant and must NOT be shifted by the configured event.timezone
_AUTH_TS_OFFSET_LAYOUTS = [
    "2006-01-02T15:04:05.999999Z07:00",
    "2006-01-02T15:04:05.999Z07:00",
    "2006-01-02T15:04:05Z07:00",
]
_AUTH_TS_LOCAL_LAYOUTS = [
    "2006-01-02T15:04:05.999999",
    "2006-01-02T15:04:05.999",
    "2006-01-02T15:04:05",
    "Jan _2 15:04:05",
    "Jan 02 15:04:05",
]


def system_auth(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """system/auth/ingest/files.yml + grok-auth-messages.yml as a DataFrame
    program: three chained grok banks (header → specific auth messages →
    PAM usernames on the unmatched remainder), the rename-cascade user
    resolution, source.address→ip/domain split, dropped-ip convert, ssh /
    iam event categorization, related.* appends, and the mixed
    offset/zoneless date chain. Golden parity vs the reference's
    test/*.log-expected.json is pinned in tests/test_modules.py."""
    # one fused Arrow exchange for all three banks: header → specific auth
    # messages (on the header's remainder) → PAM usernames (on rows the
    # message bank left unmatched) — same cascade files.yml runs, minus two
    # JVM↔Python round trips of the frame
    out = P.grok_chain(df, [
        {"patterns": AUTH_HEADER_PATTERNS, "target": "parsed",
         "pattern_definitions": AUTH_HEADER_DEFINITIONS},
        {"patterns": AUTH_MESSAGE_PATTERNS, "target": "_msg",
         "input": ("parsed", "_temp_message")},
        {"patterns": AUTH_PAM_PATTERNS, "target": "_pam",
         "pattern_definitions": AUTH_PAM_DEFINITIONS,
         "input": ("parsed", "_temp_message"), "only_if_unmatched": "_msg"},
    ])
    p = F.col("parsed")
    out = out.withColumn("host_hostname", p["host_hostname"])
    out = out.withColumn("process_name", p["process_name"])
    out = out.withColumn("process_pid", p["process_pid"])
    out = out.withColumn("_tmpmsg", p["_temp_message"])
    m = F.col("_msg")
    # on stage-2 failure the remainder becomes `message` (files.yml
    # pipeline on_failure rename)
    out = out.withColumn("message_out",
                         F.when(m.isNull(), F.col("_tmpmsg")))
    q = F.col("_pam")
    byuser, foruser = q["_temp_byuser"], q["_temp_foruser"]
    puser, byuid = q["_temp_user"], q["_temp_byuid"]

    # rename cascade (files.yml): byuser wins user.name, then foruser, then
    # the bare 'user' capture; foruser becomes user.effective.name exactly
    # when user.name was already taken (by the specific bank or byuser);
    # the sudo convert then overwrites user.effective.name when present
    s2u = m["user_name"]
    out = out.withColumn("user_name", F.coalesce(s2u, byuser, foruser, puser))
    eff_pam = F.when(F.coalesce(s2u, byuser).isNotNull(), foruser)
    out = out.withColumn("user_effective_name",
                         F.coalesce(m["system_auth_sudo_user"], eff_pam))
    out = out.withColumn("user_id", F.coalesce(m["user_id"], byuid))

    # convert source.address → source.ip (type ip; on_failure → domain);
    # convert ssh.dropped_ip → source.ip (on_failure removes dropped_ip)
    src_ip, src_domain = _ip_or_domain(m["source_address"])
    dropped_ip = _ip_or_domain(m["system_auth_ssh_dropped_ip"])[0]
    out = out.withColumn("source_address", m["source_address"])
    out = out.withColumn("source_domain", src_domain)
    out = out.withColumn("system_auth_ssh_dropped_ip", dropped_ip)
    out = out.withColumn("source_ip", F.coalesce(src_ip, dropped_ip))
    out = out.withColumn("source_port", m["source_port"])
    for fld in ["system_auth_ssh_event", "system_auth_ssh_method",
                "system_auth_ssh_signature", "system_auth_sudo_error",
                "system_auth_sudo_tty", "system_auth_sudo_pwd",
                "system_auth_sudo_user", "system_auth_sudo_command",
                "group_name", "group_id", "system_auth_useradd_home",
                "system_auth_useradd_shell"]:
        out = out.withColumn(fld, m[fld])

    # categorization: the ssh painless script + the iam append/set chain.
    # ssh events come from process 'sshd' and the iam procs are the
    # user*/group* binaries — the two branches are disjoint by construction,
    # so the when-chain reproduces the script-then-append order exactly.
    evt = F.col("system_auth_ssh_event")
    proc = F.col("process_name")
    ssh_ok = evt == "Accepted"
    ssh_fail = evt.isin("Invalid", "Failed")
    is_iam = proc.isin(*_IAM_PROCS)
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_category",
        F.when(ssh_ok, F.array(F.lit("authentication"), F.lit("session")))
        .when(ssh_fail, F.array(F.lit("authentication")))
        .when(is_iam, F.array(F.lit("iam"))),
    )
    out = out.withColumn(
        "event_action", F.when(ssh_ok | ssh_fail, F.lit("ssh_login"))
    )
    msg_has_fail = F.coalesce(F.col("message_out").contains("fail"),
                              F.lit(False))
    out = out.withColumn(
        "event_outcome",
        F.when(is_iam, F.when(msg_has_fail, "failure").otherwise("success"))
        .when(ssh_ok, "success")
        .when(ssh_fail, "failure"),
    )
    iam_first = F.when(proc.isin(*_IAM_USER_PROCS), "user").otherwise("group")
    iam_second = (
        F.when(proc.isin("useradd", "groupadd"), "creation")
        .when(proc.isin("userdel", "groupdel"), "deletion")
        .otherwise("change")
    )
    out = out.withColumn(
        "event_type",
        F.when(ssh_ok | ssh_fail, F.array(F.lit("info")))
        .when(is_iam, F.array(iam_first, iam_second)),
    )

    # related.* appends (allow_duplicates: false, skip null/empty)
    def _related(*cols):
        arr = F.array_distinct(
            F.filter(F.array(*cols),
                     lambda x: x.isNotNull() & (x != F.lit("")))
        )
        return F.when(F.size(arr) > 0, arr)

    out = out.withColumn(
        "related_user",
        _related(F.col("user_name"), F.col("user_effective_name")),
    )
    out = out.withColumn("related_ip", _related(F.col("source_ip")))
    out = out.withColumn("related_hosts", _related(F.col("host_hostname")))

    # date: offset-carrying ISO parses absolute; zoneless forms are local
    # to the configured event.timezone
    raw_ts = p["system_auth_timestamp"]
    out = out.withColumn("timestamp", F.coalesce(
        P.parse_timestamp(raw_ts, _AUTH_TS_OFFSET_LAYOUTS),
        P.parse_timestamp(raw_ts, _AUTH_TS_LOCAL_LAYOUTS, timezone)))
    return out.drop("_tmpmsg")


# -- elasticsearch.slowlog (elasticsearch/slowlog/ingest/pipeline*.yml) ------

ES_SLOWLOG_FIELDS_PATTERN = (
    r"(\[%{INDEXNAME:elasticsearch.index.name}\]"
    r"\[%{NUMBER:elasticsearch.shard.id}\])?(%{SPACE})"
    r"(\[%{INDEXNAME:elasticsearch.index.name}\/"
    r"%{DATA:elasticsearch.index.id}\])?(%{SPACE})%{SPACE}"
    r"(took\[%{DATA:elasticsearch.slowlog.took}\],)?%{SPACE}"
    r"(took_millis\[%{NUMBER:elasticsearch.slowlog.duration:long}\],)?%{SPACE}"
    r"(type\[%{DATA:elasticsearch.slowlog.type}\],)?%{SPACE}"
    r"(id\[%{DATA:elasticsearch.slowlog.id}\],)?%{SPACE}"
    r"(routing\[%{DATA:elasticsearch.slowlog.routing}\],)?%{SPACE}"
    r"(total_hits\[%{NUMBER:elasticsearch.slowlog.total_hits:int}\],)?%{SPACE}"
    r"(types\[%{DATA:elasticsearch.slowlog.types}\],)?%{SPACE}"
    r"(stats\[%{DATA:elasticsearch.slowlog.stats}\],)?%{SPACE}"
    r"(search_type\[%{DATA:elasticsearch.slowlog.search_type}\],)?%{SPACE}"
    r"(total_shards\[%{NUMBER:elasticsearch.slowlog.total_shards:int}\],)?%{SPACE}"
    r"(source\[%{GREEDYMULTILINE:elasticsearch.slowlog.source_query}\])?,?"
    r"%{SPACE}(extra_source\[%{DATA:elasticsearch.slowlog.extra_source}\])?,?"
)

ES_SLOWLOG_PT_PATTERNS = [
    r"\[%{TIMESTAMP_ISO8601:elasticsearch.slowlog.timestamp}\]"
    r"\[%{WORD:log.level}(%{SPACE})\]"
    r"\[%{DATA:elasticsearch.slowlog.logger}\]%{SPACE}"
    r"\[%{DATA:elasticsearch.node.name}\](%{SPACE})?"
    + ES_SLOWLOG_FIELDS_PATTERN,
]

ES_SLOWLOG_MSG_PATTERNS = [
    ES_SLOWLOG_FIELDS_PATTERN,
    r"\[%{INDEXNAME:elasticsearch.index.name}\]"
    r"\[%{NUMBER:elasticsearch.shard.id}\]",
]

ES_SLOWLOG_DEFINITIONS = {
    "GREEDYMULTILINE": "(.|\n)*",
    "INDEXNAME": r"[a-zA-Z0-9_.-]*",
}

_ES_SL7_SCHEMA = (
    "type string, timestamp string, level string, component string, "
    "`cluster.name` string, `node.name` string, `cluster.uuid` string, "
    "`node.id` string, message string, took string, took_millis string, "
    "doc_type string, id string, routing string, source string, "
    "total_hits string, types string, stats string, search_type string, "
    "total_shards string"
)

_ES_SL8_SCHEMA = (
    "`@timestamp` string, `log.level` string, `ecs.version` string, "
    "`service.name` string, `event.dataset` string, "
    "`process.thread.name` string, `log.logger` string, "
    "`elasticsearch.cluster.uuid` string, `elasticsearch.node.id` string, "
    "`elasticsearch.node.name` string, `elasticsearch.cluster.name` string, "
    "`elasticsearch.slowlog.message` string, `elasticsearch.slowlog.id` string, "
    "`elasticsearch.slowlog.took` string, `elasticsearch.slowlog.took_millis` string, "
    "`elasticsearch.slowlog.total_hits` string, `elasticsearch.slowlog.total_shards` string, "
    "`elasticsearch.slowlog.search_type` string, `elasticsearch.slowlog.source` string, "
    "`elasticsearch.slowlog.stats` string, `elasticsearch.slowlog.routing` string, "
    "`elasticsearch.slowlog.doc_type` string, `trace.id` string"
)

_ES_SL_DATASETS = ["elasticsearch.slowlog", "elasticsearch.index_indexing_slowlog",
                   "elasticsearch.index_search_slowlog"]

_ES_SL_TS_LAYOUTS = [_COMMA_MS + "Z07:00", _COMMA_MS + "Z0700",
                     _MS_OFFSET, _MS_OFFSET_NOCOLON]


def elasticsearch_slowlog(df: DataFrame,
                          timezone: str | None = None) -> DataFrame:
    """elasticsearch/slowlog: first-char branch between the 6.x plaintext
    grok (pipeline-plaintext.yml — verbatim bracket-field bank), the 7.x
    JSON format (pipeline-json-7.yml: json → elasticsearch.slowlog.*,
    component/level/node renames, re-grok of the embedded message) and the
    8.x ECS-JSON format (pipeline-json-8.yml: flat dotted keys add_to_root,
    drop of non-slowlog datasets, message set from slowlog.message).
    event.duration = round(took_millis ms × 1e6); FATAL/ERROR → event.type
    'error'. `stats` is emitted as the RAW string (the reference's split
    processor turns 'a,b' into an array only when non-empty — the golden
    test decodes both spellings).

    Reference: elasticsearch/slowlog/ingest/{pipeline,pipeline-plaintext,
    pipeline-json,pipeline-json-7,pipeline-json-8}.yml; goldens
    elasticsearch/slowlog/test/*-expected.json."""
    raw = F.col("message")
    out, is_json, pick = _plain_or_json(df, ES_SLOWLOG_PT_PATTERNS,
                                        ES_SLOWLOG_DEFINITIONS)
    is_json8 = is_json & raw.contains("ecs.version")
    is_json7 = is_json & ~raw.contains("ecs.version")
    p = F.col("parsed")
    out = out.withColumn("j7", F.when(is_json7, F.from_json(raw, _ES_SL7_SCHEMA)))
    out = out.withColumn("j8", F.when(is_json8, F.from_json(raw, _ES_SL8_SCHEMA)))
    j7, j8 = F.col("j7"), F.col("j8")

    # drop processors: json-7 keeps only the two slowlog types; json-8
    # keeps only the slowlog datasets (mixed-output server lines vanish)
    out = out.filter(
        (~is_json7 | j7["type"].isin("index_indexing_slowlog",
                                     "index_search_slowlog"))
        & (~is_json8 | j8["event.dataset"].isin(*_ES_SL_DATASETS))
    )

    # re-grok of the embedded message (json branches only)
    out = out.withColumn(
        "_slmsg",
        F.when(is_json8, j8["elasticsearch.slowlog.message"])
        .when(is_json7, j7["message"]),
    )
    out = P.grok(out, ES_SLOWLOG_MSG_PATTERNS, field="_slmsg",
                 target_prefix="_mg", flag_failures=False,
                 pattern_definitions=ES_SLOWLOG_DEFINITIONS)
    g = F.col("_mg")

    lvl = (
        F.when(is_json8, j8["log.level"])
        .when(is_json7, j7["level"])
        .otherwise(p["log_level"])
    )
    out = out.withColumn("log_level", lvl)
    out = out.withColumn("elasticsearch_slowlog_logger",
                         p["elasticsearch_slowlog_logger"])
    out = out.withColumn("log_logger", F.when(is_json8, j8["log.logger"]))
    out = out.withColumn("elasticsearch_component",
                         F.when(is_json7, j7["component"]))
    out = out.withColumn("process_thread_name",
                         F.when(is_json8, j8["process.thread.name"]))
    out = out.withColumn("service_name", F.when(is_json8, j8["service.name"]))
    out = out.withColumn(
        "elasticsearch_node_name",
        F.when(is_json8, j8["elasticsearch.node.name"])
        .when(is_json7, j7["node.name"])
        .otherwise(p["elasticsearch_node_name"]),
    )
    out = out.withColumn(
        "elasticsearch_node_id",
        F.when(is_json8, j8["elasticsearch.node.id"])
        .when(is_json7, j7["node.id"]),
    )
    out = out.withColumn(
        "elasticsearch_cluster_name",
        F.when(is_json8, j8["elasticsearch.cluster.name"])
        .when(is_json7, j7["cluster.name"]),
    )
    out = out.withColumn(
        "elasticsearch_cluster_uuid",
        F.when(is_json8, j8["elasticsearch.cluster.uuid"])
        .when(is_json7, j7["cluster.uuid"]),
    )
    # index/shard come from whichever grok ran (plaintext line or embedded
    # json message)
    for fld in ("elasticsearch_index_name", "elasticsearch_index_id",
                "elasticsearch_shard_id"):
        out = out.withColumn(fld, F.coalesce(p[fld], g[fld]))
    out = out.withColumn(
        "elasticsearch_slowlog_took",
        F.coalesce(p["elasticsearch_slowlog_took"],
                   g["elasticsearch_slowlog_took"],
                   F.when(is_json8, j8["elasticsearch.slowlog.took"])
                   .when(is_json7, j7["took"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_type",
        F.coalesce(p["elasticsearch_slowlog_type"],
                   g["elasticsearch_slowlog_type"]),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_id",
        F.coalesce(p["elasticsearch_slowlog_id"],
                   g["elasticsearch_slowlog_id"],
                   F.when(is_json8, j8["elasticsearch.slowlog.id"])
                   .when(is_json7, j7["id"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_routing",
        F.coalesce(p["elasticsearch_slowlog_routing"],
                   g["elasticsearch_slowlog_routing"],
                   F.when(is_json8, j8["elasticsearch.slowlog.routing"])
                   .when(is_json7, j7["routing"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_search_type",
        F.coalesce(p["elasticsearch_slowlog_search_type"],
                   g["elasticsearch_slowlog_search_type"],
                   F.when(is_json8, j8["elasticsearch.slowlog.search_type"])
                   .when(is_json7, j7["search_type"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_total_hits",
        F.coalesce(p["elasticsearch_slowlog_total_hits"].cast("string"),
                   g["elasticsearch_slowlog_total_hits"].cast("string"),
                   F.when(is_json8, j8["elasticsearch.slowlog.total_hits"])
                   .when(is_json7, j7["total_hits"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_total_shards",
        F.coalesce(p["elasticsearch_slowlog_total_shards"].cast("string"),
                   g["elasticsearch_slowlog_total_shards"].cast("string"),
                   F.when(is_json8, j8["elasticsearch.slowlog.total_shards"])
                   .when(is_json7, j7["total_shards"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_types",
        F.coalesce(p["elasticsearch_slowlog_types"],
                   g["elasticsearch_slowlog_types"],
                   F.when(is_json8, j8["elasticsearch.slowlog.doc_type"])
                   .when(is_json7, F.coalesce(j7["types"], j7["doc_type"]))),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_stats",
        F.coalesce(p["elasticsearch_slowlog_stats"],
                   g["elasticsearch_slowlog_stats"],
                   F.when(is_json8, j8["elasticsearch.slowlog.stats"])
                   .when(is_json7, j7["stats"])),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_source",
        F.when(is_json8, j8["elasticsearch.slowlog.source"])
        .when(is_json7, j7["source"]),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_source_query",
        F.coalesce(p["elasticsearch_slowlog_source_query"],
                   g["elasticsearch_slowlog_source_query"]),
    )
    out = out.withColumn(
        "elasticsearch_slowlog_extra_source",
        F.coalesce(p["elasticsearch_slowlog_extra_source"],
                   g["elasticsearch_slowlog_extra_source"]),
    )

    # event.duration = round(duration_ms * 1e6); the embedded-message grok
    # overwrites the raw took_millis exactly like the reference's grok-after-
    # rename ordering
    dur_ms = F.coalesce(
        p["elasticsearch_slowlog_duration"].cast("double"),
        g["elasticsearch_slowlog_duration"].cast("double"),
        F.when(is_json8, j8["elasticsearch.slowlog.took_millis"])
        .when(is_json7, j7["took_millis"]).cast("double"),
    )
    out = out.withColumn(
        "event_duration", F.round(dur_ms * 1e6).cast("long")
    )

    # message: plaintext + json-7 keep the raw line; json-8 sets it to the
    # embedded slowlog message (ignore_empty_value → raw line kept if empty)
    out = out.withColumn(
        "message_out",
        F.when(is_json8,
               F.coalesce(j8["elasticsearch.slowlog.message"], raw))
        .otherwise(raw),
    )

    # dates: plaintext is zoneless (event.timezone applies); json stamps
    # carry their own offset (comma or dot millis, Z / ±HH:mm / ±HHmm)
    json_raw_ts = F.when(is_json8, j8["@timestamp"]).when(
        is_json7, j7["timestamp"]
    )
    out = out.withColumn("timestamp", pick(
        P.parse_timestamp(json_raw_ts, _ES_SL_TS_LAYOUTS),
        P.parse_timestamp(p["elasticsearch_slowlog_timestamp"], [_COMMA_MS],
                          timezone),
    ))

    out = out.withColumn(
        "event_dataset",
        F.when(is_json8, j8["event.dataset"])
        .otherwise(F.lit("elasticsearch.slowlog")),
    )
    out = out.withColumn("event_kind", F.lit("event"))
    # scalar on purpose — `set` processors; goldens are scalar
    out = out.withColumn("event_category", F.lit("database"))
    out = out.withColumn(
        "event_type",
        F.when(lvl.isNotNull(),
               F.when(lvl.isin("FATAL", "ERROR"), "error").otherwise("info")),
    )
    out = out.withColumn("host_name", F.col("elasticsearch_node_name"))
    out = out.withColumn("host_id", F.col("elasticsearch_node_id"))
    return out.drop("j7", "j8", "_slmsg")


# -- nginx.error (nginx/error/ingest/pipeline.yml) ---------------------------

NGINX_ERROR_PATTERNS = [
    r"%{DATA:nginx.error.time} \[%{DATA:log.level}\] "
    r"%{NUMBER:process.pid:long}#%{NUMBER:process.thread.id:long}: "
    r"(\*%{NUMBER:nginx.error.connection_id:long} )?"
    r"%{GREEDYMULTILINE:message}",
]

NGINX_ERROR_DEFINITIONS = {"GREEDYMULTILINE": "(.|\n|\t)*"}


def nginx_error(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """nginx/error/ingest/pipeline.yml: single grok (verbatim, incl. the
    optional *connection_id), event.original kept as the raw line, zoneless
    'yyyy/MM/dd H:m:s' date shifted by event.timezone, and the static
    event.kind/category/type appends."""
    out = P.grok(df, NGINX_ERROR_PATTERNS, target_prefix="parsed",
                 pattern_definitions=NGINX_ERROR_DEFINITIONS)
    p = F.col("parsed")
    out = out.withColumn("event_original", F.col("message"))
    out = out.withColumn("message_out", p["message"])
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("process_pid", p["process_pid"])
    out = out.withColumn("process_thread_id", p["process_thread_id"])
    out = out.withColumn("nginx_error_connection_id",
                         p["nginx_error_connection_id"])
    out = P.timestamp(out, "parsed.nginx_error_time", ["2006/01/02 15:04:05"],
                      target="timestamp", timezone=timezone)
    out = out.withColumn("event_kind", F.lit("event"))
    # append processors onto absent fields → single-element arrays
    out = out.withColumn("event_category", F.array(F.lit("web")))
    out = out.withColumn("event_type", F.array(F.lit("error")))
    return out


# -- elasticsearch.audit (elasticsearch/audit/ingest/pipeline*.yml) ----------

ES_AUDIT_PT_DEFINITIONS = {
    # verbatim from pipeline-plaintext.yml pattern_definitions (capture
    # names only: '@timestamp' → 'timestamp'; '@' is not a column char)
    "ES_TIMESTAMP": r"\[%{TIMESTAMP_ISO8601:elasticsearch.audit.timestamp}\]",
    "ES_NODE_NAME": r"(\[%{DATA:elasticsearch.node.name}\])?",
    "ES_AUDIT_LAYER": r"\[%{WORD:elasticsearch.audit.layer}\]",
    "ES_AUDIT_EVENT_TYPE": r"\[%{WORD:elasticsearch.audit.event_type}\]",
    "ES_AUDIT_ORIGIN_TYPE":
        r"(origin_type\=\[%{WORD:elasticsearch.audit.origin.type}\])?",
    "ES_AUDIT_ORIGIN_ADDRESS": r"(origin_address\=\[%{IPORHOST:source.ip}\])?",
    "ES_AUDIT_PRINCIPAL": r"(principal\=\[%{DATA:user.name}\])?",
    "ES_AUDIT_REALM": r"(realm\=\[%{WORD:elasticsearch.audit.realm}\])?",
    # capture names that need post-processing (CSV split, sub_action
    # re-join) get a pt. prefix so the raw capture can't shadow the
    # processed output column in consumers that read both
    "ES_AUDIT_ROLES": r"(roles\=\[%{DATA:pt.roles.csv}\])?",
    "ES_AUDIT_ACTION":
        r"(action\=\[%{DATA:pt.action}"
        r"(\[%{DATA:pt.sub.action}\])?\])?",
    "ES_AUDIT_URI": r"(uri=\[%{DATA:url.original}\])?",
    "ES_AUDIT_URI_PARAMS":
        r"(params=\[%{DATA:elasticsearch.audit.url.params}\])?",
    "ES_AUDIT_INDICES": r"(indices\=\[%{DATA:pt.indices.csv}\])?",
    "ES_AUDIT_REQUEST":
        r"(request\=\[%{WORD:elasticsearch.audit.request.name}\])?",
    "ES_AUDIT_REQUEST_BODY":
        r"(request_body\=\[%{DATA:http.request.body.content}\])?",
}

ES_AUDIT_PT_PATTERNS = [
    r"%{ES_TIMESTAMP}\s*%{ES_NODE_NAME}\s*%{ES_AUDIT_LAYER}\s*"
    r"%{ES_AUDIT_EVENT_TYPE}\s*%{ES_AUDIT_ORIGIN_TYPE},?\s*"
    r"%{ES_AUDIT_ORIGIN_ADDRESS},?\s*%{ES_AUDIT_PRINCIPAL},?\s*"
    r"%{ES_AUDIT_REALM},?\s*%{ES_AUDIT_ROLES},?\s*%{ES_AUDIT_ACTION},?\s*"
    r"%{ES_AUDIT_INDICES},?\s*%{ES_AUDIT_URI},?\s*%{ES_AUDIT_URI_PARAMS},?\s*"
    r"%{ES_AUDIT_REQUEST},?\s*%{ES_AUDIT_REQUEST_BODY}$",
]

_ES_AUDIT_SCHEMA = (
    "`@timestamp` string, timestamp string, type string, level string, "
    "`node.id` string, `node.name` string, "
    "`cluster.name` string, `cluster.uuid` string, "
    "`event.type` string, `event.action` string, "
    "`user.name` string, `user.realm` string, `user.roles` array<string>, "
    "`user.run_as.name` string, `user.run_as.realm` string, "
    "`origin.type` string, `origin.address` string, realm string, "
    "`url.path` string, `url.query` string, "
    "`request.method` string, `request.body` string, `request.id` string, "
    "`request.name` string, action string, indices array<string>, "
    "opaque_id string, `trace.id` string, `authentication.type` string, "
    "change struct<disable:struct<user:struct<name:string>>, "
    "enable:struct<user:struct<name:string>>>, "
    "delete struct<user:struct<name:string>>, "
    "put struct<user:struct<name:string, full_name:string, email:string>>, "
    "invalidate struct<apikeys:struct<owned_by_authenticated_user:boolean, "
    "user:struct<name:string, realm:string>>>"
)

# the painless outcome script's second if/else overwrites the first: the
# final outcome is 'success' iff event.action (json branch only) is in this
# list — plaintext events (event.action null) are always 'failure', even
# access_granted ones. Faithfully restated; goldens pin it.
_ES_AUDIT_SUCCESS = ["authentication_success", "access_granted",
                     "run_as_granted", "connection_granted"]

_ES_AUDIT_JSON_LAYERS = ["rest", "transport", "ip_filter",
                         "security_config_change"]


def elasticsearch_audit(df: DataFrame,
                        timezone: str | None = None) -> DataFrame:
    """elasticsearch/audit: first-char branch between the 6.x plaintext
    bracket-field grok (pipeline-plaintext.yml, verbatim bank) and the
    JSON format (pipeline-json.yml): json → flat dotted keys + the nested
    security_config_change payloads (change/delete/put/invalidate), drop of
    non-audit lines, the origin.address → source.ip/port grok, the
    user.name rename cascade, and url.original = path[?query].

    Reference: elasticsearch/audit/ingest/{pipeline,pipeline-plaintext,
    pipeline-json}.yml; goldens elasticsearch/audit/test/*-expected.json."""
    out, is_json, _ = _plain_or_json(df, ES_AUDIT_PT_PATTERNS,
                                     ES_AUDIT_PT_DEFINITIONS, _ES_AUDIT_SCHEMA)
    p, j = F.col("parsed"), F.col("js")

    # pipeline-json drop processors: explicit type must be 'audit'; typeless
    # json must carry a known audit layer in event.type
    out = out.filter(
        ~is_json
        | F.when(j["type"].isNotNull(), j["type"] == "audit")
        .otherwise(j["event.type"].isin(*_ES_AUDIT_JSON_LAYERS))
    )

    out = out.withColumn(
        "elasticsearch_audit_layer",
        F.coalesce(p["elasticsearch_audit_layer"], j["event.type"]),
    )
    out = out.withColumn("elasticsearch_audit_event_type",
                         p["elasticsearch_audit_event_type"])
    out = out.withColumn("event_action", j["event.action"])
    # set event.type = access only when the plaintext event_type exists
    out = out.withColumn(
        "event_type",
        F.when(F.col("elasticsearch_audit_event_type").isNotNull(), "access"),
    )
    out = out.withColumn(
        "elasticsearch_audit_origin_type",
        F.coalesce(p["elasticsearch_audit_origin_type"], j["origin.type"]),
    )
    addr = j["origin.address"]
    out = out.withColumn("source_address", addr)
    out = out.withColumn(
        "source_ip",
        F.coalesce(
            p["source_ip"],
            # regexp_extract yields '' (not null) on miss — nullif so the
            # coalesce falls through to the bare host:port pattern
            F.nullif(F.regexp_extract(addr, r"^\[([^\]]+)\]:\d+$", 1),
                     F.lit("")),
            F.nullif(F.regexp_extract(addr, r"^(.+):\d+$", 1), F.lit("")),
        ),
    )
    out = out.withColumn(
        "source_port",
        F.regexp_extract(addr, r":(\d+)$", 1).try_cast("int"),
    )

    # user.name rename cascade (pipeline-json.yml order)
    out = out.withColumn(
        "user_name",
        F.coalesce(
            p["user_name"],
            j["change"]["disable"]["user"]["name"],
            j["change"]["enable"]["user"]["name"],
            j["delete"]["user"]["name"],
            j["put"]["user"]["name"],
            j["invalidate"]["apikeys"]["user"]["name"],
            j["user.name"],
        ),
    )
    out = out.withColumn("user_full_name", j["put"]["user"]["full_name"])
    out = out.withColumn("user_email", j["put"]["user"]["email"])
    out = out.withColumn("user_effective_name", j["user.run_as.name"])
    out = out.withColumn("elasticsearch_audit_user_run_as_name",
                         j["user.run_as.name"])
    out = out.withColumn("elasticsearch_audit_user_run_as_realm",
                         j["user.run_as.realm"])
    out = out.withColumn(
        "elasticsearch_audit_user_realm",
        F.coalesce(j["invalidate"]["apikeys"]["user"]["realm"],
                   j["user.realm"]),
    )
    out = out.withColumn(
        "elasticsearch_audit_invalidate_apikeys_owned_by_authenticated_user",
        j["invalidate"]["apikeys"]["owned_by_authenticated_user"],
    )
    out = out.withColumn(
        "elasticsearch_audit_user_roles",
        F.coalesce(
            F.when(p["pt_roles_csv"].isNotNull(),
                   F.split(p["pt_roles_csv"], ",")),
            j["user.roles"],
        ),
    )
    out = out.withColumn(
        "elasticsearch_audit_realm",
        F.coalesce(p["elasticsearch_audit_realm"], j["realm"]),
    )
    # plaintext action[sub_action] re-join (the painless += script)
    out = out.withColumn(
        "elasticsearch_audit_action",
        F.coalesce(
            F.when(
                p["pt_sub_action"].isNotNull(),
                F.concat(p["pt_action"], F.lit("["),
                         p["pt_sub_action"], F.lit("]")),
            ).otherwise(p["pt_action"]),
            j["action"],
        ),
    )
    out = out.withColumn(
        "elasticsearch_audit_indices",
        F.coalesce(
            F.when(p["pt_indices_csv"].isNotNull(),
                   F.split(p["pt_indices_csv"], ",")),
            j["indices"],
        ),
    )
    out = out.withColumn("elasticsearch_audit_opaque_id", j["opaque_id"])
    out = out.withColumn("elasticsearch_audit_request_id", j["request.id"])
    out = out.withColumn("http_request_id", j["request.id"])
    out = out.withColumn(
        "elasticsearch_audit_request_name",
        F.coalesce(p["elasticsearch_audit_request_name"], j["request.name"]),
    )
    out = out.withColumn("http_request_method", j["request.method"])
    out = out.withColumn(
        "http_request_body_content",
        F.coalesce(p["http_request_body_content"], j["request.body"]),
    )
    out = out.withColumn("elasticsearch_audit_url_params",
                         p["elasticsearch_audit_url_params"])
    out = out.withColumn(
        "url_original",
        F.coalesce(
            p["url_original"],
            F.when(j["url.query"].isNotNull(),
                   F.concat(j["url.path"], F.lit("?"), j["url.query"]))
            .otherwise(j["url.path"]),
        ),
    )
    out = out.withColumn("elasticsearch_audit_authentication_type",
                         j["authentication.type"])
    out = out.withColumn("elasticsearch_node_id", j["node.id"])
    out = out.withColumn(
        "elasticsearch_node_name",
        F.coalesce(p["elasticsearch_node_name"], j["node.name"]),
    )
    out = out.withColumn("elasticsearch_cluster_name", j["cluster.name"])
    out = out.withColumn("elasticsearch_cluster_uuid", j["cluster.uuid"])
    out = out.withColumn("trace_id", j["trace.id"])
    out = out.withColumn("log_level", j["level"])

    out = out.withColumn(
        "event_outcome",
        F.when(F.col("event_action").isin(*_ES_AUDIT_SUCCESS), "success")
        .otherwise("failure"),
    )
    out = out.withColumn(
        "related_user",
        F.filter(
            F.array("user_name", "user_effective_name"),
            lambda x: x.isNotNull(),
        ),
    )
    out = out.withColumn(
        "related_user",
        F.when(F.size("related_user") > 0, F.col("related_user")),
    )
    # host.id only: no reference golden ever records host.name for this
    # fileset, so emitting it would diverge from every -expected.json
    out = out.withColumn("host_id", F.col("elasticsearch_node_id"))

    # dates: plaintext + zoneless json stamps shift by event.timezone; an
    # explicit offset in the string wins (ES date semantics)
    json_raw_ts = F.coalesce(j["@timestamp"], j["timestamp"])
    ts_str = F.coalesce(p["elasticsearch_audit_timestamp"], json_raw_ts)
    out = out.withColumn("timestamp", F.coalesce(
        P.parse_timestamp(ts_str, [_COMMA_MS], timezone),
        P.parse_timestamp(ts_str, [_COMMA_MS + "Z0700", _COMMA_MS + "Z07:00",
                                   _MS_OFFSET]),
    ))

    out = out.withColumn("message_out", F.col("message"))
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.lit("database"))
    out = out.withColumn("event_dataset", F.lit("elasticsearch.audit"))
    return out.drop("js")


# -- kibana.audit (kibana/audit/ingest/pipeline-json.yml) --------------------

_KIBANA_AUDIT_SCHEMA = (
    "`@timestamp` string, message string, "
    "log struct<level:string, logger:string>, "
    "process struct<pid:int>, "
    "event struct<action:string, outcome:string>, "
    "http struct<request:struct<method:string>>, "
    "url struct<domain:string, path:string, port:int, scheme:string>, "
    "user struct<name:string, roles:array<string>>, "
    "client struct<ip:string>, "
    "kibana struct<space_id:string, authentication_provider:string, "
    "authentication_type:string, authentication_realm:string, "
    "lookup_realm:string, saved_object:struct<id:string, type:string, "
    "name:string>>, "
    "labels struct<application:string>, "
    "service struct<node:struct<roles:array<string>>>, "
    "trace struct<id:string>, transaction struct<id:string>"
)


def kibana_audit(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """kibana/audit: ECS audit JSON merged to root (pipeline-json.yml's
    painless merge restated as a typed from_json flatten), event.kind set
    and user.name appended to related.user (pipeline.yml). event.category
    / event.type are scalar strings in kibana 7.11 and arrays from 7.13 —
    the merge keeps the log's own shape, so both spellings are preserved
    (array parse first, raw scalar fallback).

    Reference: kibana/audit/ingest/{pipeline,pipeline-json}.yml; goldens
    kibana/audit/test/test-audit-{711,713,814,890}.log-expected.json."""
    raw = F.col("message")
    out = df.withColumn("j", F.from_json(raw, _KIBANA_AUDIT_SCHEMA))
    j = F.col("j")

    def ecs_str_array(path: str) -> Column:
        # array in >=7.13 logs, bare scalar in 7.11 — a typed engine can't
        # vary a column's type per row, so the scalar spelling normalizes
        # to a single-element array (the modern ECS shape); the golden
        # test treats scalar-want vs uniform-array-got as equal
        val = F.get_json_object(raw, path)
        arr = F.from_json(val, "array<string>")
        return F.when(arr.isNotNull(), arr).when(
            val.isNotNull(), F.array(val)
        )

    out = out.withColumn("event_action", j["event"]["action"])
    out = out.withColumn("event_outcome", j["event"]["outcome"])
    out = out.withColumn("event_category", ecs_str_array("$.event.category"))
    out = out.withColumn("event_type", ecs_str_array("$.event.type"))
    out = out.withColumn("log_level", j["log"]["level"])
    out = out.withColumn("log_logger", j["log"]["logger"])
    out = out.withColumn("process_pid", j["process"]["pid"])
    out = out.withColumn("http_request_method",
                         j["http"]["request"]["method"])
    out = out.withColumn("url_domain", j["url"]["domain"])
    out = out.withColumn("url_path", j["url"]["path"])
    out = out.withColumn("url_port", j["url"]["port"])
    out = out.withColumn("url_scheme", j["url"]["scheme"])
    out = out.withColumn("client_ip", j["client"]["ip"])
    out = out.withColumn("user_name", j["user"]["name"])
    out = out.withColumn("user_roles", j["user"]["roles"])
    out = out.withColumn("kibana_space_id", j["kibana"]["space_id"])
    out = out.withColumn("kibana_authentication_provider",
                         j["kibana"]["authentication_provider"])
    out = out.withColumn("kibana_authentication_type",
                         j["kibana"]["authentication_type"])
    out = out.withColumn("kibana_authentication_realm",
                         j["kibana"]["authentication_realm"])
    out = out.withColumn("kibana_lookup_realm", j["kibana"]["lookup_realm"])
    out = out.withColumn("kibana_saved_object_id",
                         j["kibana"]["saved_object"]["id"])
    out = out.withColumn("kibana_saved_object_type",
                         j["kibana"]["saved_object"]["type"])
    out = out.withColumn("kibana_saved_object_name",
                         j["kibana"]["saved_object"]["name"])
    out = out.withColumn("labels_application", j["labels"]["application"])
    out = out.withColumn("service_node_roles",
                         j["service"]["node"]["roles"])
    out = out.withColumn("trace_id", j["trace"]["id"])
    out = out.withColumn("transaction_id", j["transaction"]["id"])
    out = out.withColumn("message_out", j["message"])
    out = out.withColumn(
        "related_user",
        F.when(j["user"]["name"].isNotNull(), F.array(j["user"]["name"])),
    )
    out = out.withColumn("timestamp", P.parse_timestamp(
        j["@timestamp"], [_MS_OFFSET, _MS_OFFSET_NOCOLON]))
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_dataset", F.lit("kibana.audit"))
    return out.drop("j")


# -- iis.error (iis/error/ingest/pipeline.yml) -------------------------------

IIS_ERROR_PATTERNS = [
    # 14-field HTTP-API layout (extra streamid column before sc-status)
    # first, then the 13-field layout — reference pattern order, verbatim
    # except NUMBER for the port captures (reference uses IPORHOST:long on a
    # numeric port; equivalent on any valid input)
    r"%{TIMESTAMP_ISO8601:iis.error.time} %{IPORHOST:source.address} "
    r"%{NUMBER:source.port:long} %{IPORHOST:destination.address} "
    r"%{NUMBER:destination.port:long} (?:HTTP/%{NUMBER:http.version}|-) "
    r"(?:%{WORD:http.request.method}|-) (?:-|%{NOTSPACE:tmp.url.orig}) "
    r"(?:%{NUMBER}|-) (?:%{NUMBER:http.response.status_code:long}|-) "
    r"(?:%{NUMBER}|-) (?:-|%{NOTSPACE:iis.error.reason_phrase}) "
    r"(?:-|%{NOTSPACE:iis.error.queue_name})",
    r"%{TIMESTAMP_ISO8601:iis.error.time} %{IPORHOST:source.address} "
    r"%{NUMBER:source.port:long} %{IPORHOST:destination.address} "
    r"%{NUMBER:destination.port:long} (?:HTTP/%{NUMBER:http.version}|-) "
    r"(?:%{WORD:http.request.method}|-) (?:-|%{NOTSPACE:tmp.url.orig}) "
    r"(?:%{NUMBER:http.response.status_code:long}|-) (?:%{NUMBER}|-) "
    r"(?:-|%{NOTSPACE:iis.error.reason_phrase}) "
    r"(?:-|%{NOTSPACE:iis.error.queue_name})",
]


def iis_error(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """iis/error: two-pattern grok bank (streamid layout first), uri_parts
    over cs-uri, %zone-id stripping into source/destination.ip, conditional
    network category/connection type when both ips parsed, status-code
    outcome. uri_parts restated to the goldens' visible contract: a
    backslash in the uri fails the parse (url.original only); url.path is
    the pre-'?' prefix, url.query the remainder, url.extension only for a
    '/'-delimited final segment with a dot ('12.2.1' and '*' get path but
    no extension, per iis_error_url.log-expected.json). geoip scoped out
    (module docstring).

    Reference: iis/error/ingest/pipeline.yml; goldens iis/error/test/."""
    out = P.grok(df, IIS_ERROR_PATTERNS, target_prefix="parsed",
                 flag_failures=False)
    p = F.col("parsed")
    out = out.withColumn("event_original", F.col("message"))
    url = p["tmp_url_orig"]
    out = out.withColumn("url_original", url)
    ok = url.isNotNull() & ~url.contains("\\")
    path = F.when(ok, F.split(url, r"\?", 2)[0])
    out = out.withColumn("url_path", path)
    out = out.withColumn(
        "url_query",
        F.when(ok & url.contains("?"), F.split(url, r"\?", 2)[1]),
    )
    out = out.withColumn(
        "url_extension",
        F.nullif(F.regexp_extract(path, r"/[^/]*\.([^./]+)$", 1), F.lit("")),
    )
    # the pipeline always applies a zone, UTC by default
    out = P.timestamp(out, "parsed.iis_error_time", ["2006-01-02 15:04:05"],
                      target="timestamp", timezone=timezone or "UTC")
    src = p["source_address"]
    dst = p["destination_address"]
    s_ip = F.when(src.isNotNull(), F.split(src, "%", 2)[0])
    d_ip = F.when(dst.isNotNull(), F.split(dst, "%", 2)[0])
    out = out.withColumn("source_ip", s_ip)
    out = out.withColumn("destination_ip", d_ip)
    both = s_ip.isNotNull() & d_ip.isNotNull()
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_category",
        F.when(both, F.array(F.lit("web"), F.lit("network")))
        .otherwise(F.array(F.lit("web"))),
    )
    out = out.withColumn("event_type",
                         F.when(both, F.array(F.lit("connection"))))
    out = out.withColumn(
        "related_ip",
        F.array_compact(F.array(F.col("source_ip"),
                                F.col("destination_ip"))),
    )
    status = p["http_response_status_code"]
    out = out.withColumn("event_outcome", _http_outcome(status))
    return out


# -- logstash.slowlog (logstash/slowlog/ingest/pipeline*.yml) ----------------

LOGSTASH_SLOWLOG_PT_PATTERNS = [
    r"\[%{TIMESTAMP_ISO8601:logstash.slowlog.timestamp}\]"
    r"\[%{LOGSTASH_LOGLEVEL:log.level}\s?\]"
    r"\[%{LOGSTASH_CLASS_MODULE:logstash.slowlog.module}\] "
    r"%{GREEDYDATA:message}",
]

LOGSTASH_SLOWLOG_DEFINITIONS = {
    "LOGSTASH_CLASS_MODULE": r"[\w\.]+\s*",
    "LOGSTASH_LOGLEVEL": r"INFO|ERROR|DEBUG|FATAL|WARN|TRACE",
}

LOGSTASH_SLOWLOG_EVENT_PATTERNS = [
    r"{:plugin_params=>%{GREEDYDATA:logstash.slowlog.plugin_params}, "
    r":took_in_nanos=>%{NUMBER:event.duration}, "
    r":took_in_millis=>%{NUMBER:logstash.slowlog.took_in_millis}, "
    r":event=>%{GREEDYDATA:logstash.slowlog.event}}",
]

_LOGSTASH_SL_PLUGIN_PATTERN = (
    r"^slowlog\.logstash\.(\w+)\.(\w+)"
)

_LOGSTASH_SL_JSON_SCHEMA = (
    "level string, loggerName string, timeMillis long, thread string, "
    "logEvent struct<message:string, plugin_params:map<string,string>, "
    "took_in_nanos:long, took_in_millis:long, event:string>"
)


def logstash_slowlog(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """logstash/slowlog: first-char branch between the plaintext bracket
    format (pipeline-plaintext.yml — verbatim grok bank incl. the ruby-hash
    :plugin_params re-grok of the message) and the JSON log4j2 layout
    (pipeline-json.yml: json → logstash.slowlog, timeMillis epoch date,
    logEvent.* renames). plugin_type/plugin_name grokked out of the
    loggerName; FATAL/ERROR → event.type 'error' (scalar set, both
    branches). JSON plugin_params lands in plugin_params_object as a
    map<string,string> (the reference keeps the raw object).

    Reference: logstash/slowlog/ingest/{pipeline,pipeline-plaintext,
    pipeline-json}.yml; goldens logstash/slowlog/test/*-expected.json."""
    out, is_json, _ = _plain_or_json(df, LOGSTASH_SLOWLOG_PT_PATTERNS,
                                     LOGSTASH_SLOWLOG_DEFINITIONS,
                                     _LOGSTASH_SL_JSON_SCHEMA)
    out = P.grok(out, LOGSTASH_SLOWLOG_EVENT_PATTERNS,
                 field="parsed.message", target_prefix="ev",
                 flag_failures=False)
    out = out.withColumn("ev", F.when(~is_json, F.col("ev")))
    p, ev, j = F.col("parsed"), F.col("ev"), F.col("js")

    module = F.coalesce(p["logstash_slowlog_module"], j["loggerName"])
    out = out.withColumn("logstash_slowlog_module", module)
    out = out.withColumn(
        "logstash_slowlog_plugin_type",
        F.regexp_extract(module, _LOGSTASH_SL_PLUGIN_PATTERN, 1))
    out = out.withColumn(
        "logstash_slowlog_plugin_name",
        F.regexp_extract(module, _LOGSTASH_SL_PLUGIN_PATTERN, 2))
    out = out.withColumn("log_level", F.coalesce(p["log_level"], j["level"]))
    out = out.withColumn(
        "event_duration",
        F.coalesce(ev["event_duration"].cast("long"),
                   j["logEvent"]["took_in_nanos"]))
    out = out.withColumn(
        "logstash_slowlog_took_in_millis",
        F.coalesce(ev["logstash_slowlog_took_in_millis"].cast("long"),
                   j["logEvent"]["took_in_millis"]))
    out = out.withColumn(
        "logstash_slowlog_plugin_params",
        ev["logstash_slowlog_plugin_params"])
    out = out.withColumn("logstash_slowlog_plugin_params_object",
                         j["logEvent"]["plugin_params"])
    out = out.withColumn(
        "logstash_slowlog_event",
        F.coalesce(ev["logstash_slowlog_event"], j["logEvent"]["event"]))
    out = out.withColumn("logstash_slowlog_thread", j["thread"])
    out = out.withColumn("timestamp", F.coalesce(
        P.parse_timestamp(p["logstash_slowlog_timestamp"], [_COMMA_MS],
                          timezone),
        F.timestamp_millis(j["timeMillis"]),
    ))
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(F.col("log_level").isin("ERROR", "FATAL"), "error")
        .when(F.col("log_level").isNotNull(), "info"),
    )
    out = out.withColumn("event_dataset", F.lit("logstash.slowlog"))
    return out.drop("js")


# -- nginx.ingress_controller (nginx/ingress_controller/ingest/pipeline.yml) -

NGINX_INGRESS_PATTERNS = [
    r'(%{NGINX_HOST} )?"?(?:%{NGINX_ADDRESS_LIST:nginx.ingress_controller.remote_ip_list}'
    r"|%{NOTSPACE:source.address}) - (-|%{DATA:user.name}) "
    r"\[%{HTTPDATE:nginx.ingress_controller.time}\] "
    r"\"%{DATA:nginx.ingress_controller.info}\" "
    r"%{NUMBER:http.response.status_code:long} "
    r"%{NUMBER:http.response.body.bytes:long} "
    r'"(-|%{DATA:http.request.referrer})" "(-|%{DATA:user_agent.original})" '
    r"%{NUMBER:nginx.ingress_controller.http.request.length:long} "
    r"%{NUMBER:nginx.ingress_controller.http.request.time:double} "
    r"\[%{DATA:nginx.ingress_controller.upstream.name}\] "
    r"\[%{DATA:nginx.ingress_controller.upstream.alternative_name}\] "
    r"(%{UPSTREAM_ADDRESS_LIST:nginx.ingress_controller.upstream_address_list}|-) "
    r"(%{UPSTREAM_RESPONSE_LENGTH_LIST:nginx.ingress_controller.upstream.response.length_list}|-) "
    r"(-|%{UPSTREAM_RESPONSE_TIME_LIST:nginx.ingress_controller.upstream.response.time_list}) "
    r"(-|%{UPSTREAM_RESPONSE_STATUS_CODE_LIST:nginx.ingress_controller.upstream.response.status_code_list}) "
    r"%{GREEDYDATA:nginx.ingress_controller.http.request.id}",
]

NGINX_INGRESS_DEFINITIONS = {
    "NGINX_HOST":
        r"(?:%{IP:destination.ip}|%{NGINX_NOTSEPARATOR:destination.domain})"
        r"(:%{NUMBER:destination.port})?",
    "NGINX_NOTSEPARATOR": r"[^\t ,:]+",
    "NGINX_ADDRESS_LIST": r'(?:%{IP}|%{WORD})("?,?\s*(?:%{IP}|%{WORD}))*',
    "UPSTREAM_ADDRESS_LIST":
        r"(unix:%{NOTSPACE}|(?:%{IP}(:%{NUMBER})?)"
        r'("?,?\s*(?:%{IP}(:%{NUMBER})?))*)',
    "UPSTREAM_RESPONSE_LENGTH_LIST": r'(?:%{NUMBER})("?,?\s*(?:%{NUMBER}))*',
    "UPSTREAM_RESPONSE_TIME_LIST":
        r"(%{NUMBER}|(-|(?:%{NUMBER})),\s+(-|(?:%{NUMBER}))"
        r'("?,?\s*(-|(?:%{NUMBER})))*)',
    "UPSTREAM_RESPONSE_STATUS_CODE_LIST":
        r"(%{NUMBER}|(-|(?:%{NUMBER})),\s+(-|(?:%{NUMBER}))"
        r'("?,?\s*(-|(?:%{NUMBER})))*)',
    "IP": r"(?:\[?%{IPV6}\]?|%{IPV4})",
}

NGINX_INGRESS_UPSTREAM_ADDR_PATTERNS = [
    r"^%{IPV4:nginx.ingress_controller.upstream.ip}:"
    r"%{NUMBER:nginx.ingress_controller.upstream.port}$",
    r"^\[%{IPV6:nginx.ingress_controller.upstream.ip}\]:"
    r"%{NUMBER:nginx.ingress_controller.upstream.port}$",
    r"^%{IPV6NOCOMPRESS:nginx.ingress_controller.upstream.ip}:"
    r"%{NUMBER:nginx.ingress_controller.upstream.port}$",
    r"^%{IPV6:nginx.ingress_controller.upstream.ip}%{IPV6PORTSEP}"
    r"%{NUMBER:nginx.ingress_controller.upstream.port}$",
]

NGINX_INGRESS_UPSTREAM_ADDR_DEFINITIONS = {
    "IPV6NOCOMPRESS": r"([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}",
    "IPV6PORTSEP": r"(?: port |[p#.])",
}


def _split_list(col: Column) -> Column:
    """The reference's split processor on '\"?,?\\s+' (quotes stripped)."""
    return F.split(F.regexp_replace(col, '"', ""), r",?\s+")


def nginx_ingress_controller(df: DataFrame,
                             timezone: str | None = None) -> DataFrame:
    """nginx/ingress_controller: the access-log grok extended with upstream
    list fields (verbatim bank incl. the list pattern_definitions), the
    four painless list-fold scalars restated as array expressions
    (response.length = last element, null if any element is non-numeric;
    response.time = float sum of non-'-'; response.status_code = last
    non-'-'; upstream.address = last element), the 5-pattern upstream
    address re-grok (invalid IPv6 → no ip/port, matching the reference's
    grok-miss), first-public-ip source selection, and uri_parts with
    percent-decoded url.path. geoip/user_agent derivation scoped out
    (module docstring).

    Reference: nginx/ingress_controller/ingest/pipeline.yml; goldens
    nginx/ingress_controller/test/test.log-expected.json."""
    out = P.grok(df, NGINX_INGRESS_PATTERNS, target_prefix="parsed",
                 pattern_definitions=NGINX_INGRESS_DEFINITIONS)
    p = F.col("parsed")
    out = out.withColumn("event_original", F.col("message"))
    pre = "nginx_ingress_controller_"

    # info → method/url/version (same sub-grok as nginx.access)
    info = p[pre + "info"]
    method = F.regexp_extract(info, r"^(\S+) ", 1)
    out = out.withColumn("http_request_method",
                         F.when(method != "", method))
    out = out.withColumn(
        "url_original",
        F.when(info.rlike(r"^\S+ \S+ HTTP/"),
               F.regexp_extract(info, r"^\S+ (\S+) ", 1)),
    )
    out = out.withColumn(
        "http_version",
        F.when(info.contains(" HTTP/"),
               F.regexp_extract(info, r" HTTP/(\S+)$", 1)),
    )
    # uri_parts: path is percent-DECODED ('+' preserved — only %XX decode),
    # query raw, extension from the decoded path's last '/'-segment
    url = F.col("url_original")
    raw_path = F.split(url, r"\?", 2)[0]
    path = F.coalesce(
        F.try_url_decode(F.replace(raw_path, F.lit("+"), F.lit("%2B"))),
        raw_path,
    )
    out = out.withColumn("url_path", path)
    out = out.withColumn(
        "url_query", F.when(url.contains("?"), F.split(url, r"\?", 2)[1]))
    out = out.withColumn(
        "url_extension",
        F.nullif(F.regexp_extract(path, r"/[^/]*\.([^./]+)$", 1), F.lit("")),
    )

    # list splits
    for src_name, col_name in [
        (pre + "remote_ip_list", "remote_ip_list"),
        (pre + "upstream_address_list", "upstream_address_list"),
        (pre + "upstream_response_length_list", "upstream_response_length_list"),
        (pre + "upstream_response_time_list", "upstream_response_time_list"),
        (pre + "upstream_response_status_code_list",
         "upstream_response_status_code_list"),
    ]:
        out = out.withColumn(
            col_name, F.when(p[src_name].isNotNull(), _split_list(p[src_name]))
        )

    # painless fold scalars (log order, not the golden-sorted order)
    lens = F.col("upstream_response_length_list")
    out = out.withColumn(
        "nginx_ingress_controller_upstream_response_length",
        F.when(
            lens.isNotNull()
            & ~F.exists(lens, lambda x: x.try_cast("int").isNull()),
            F.get(F.reverse(lens), 0).cast("int"),
        ),
    )
    times = F.col("upstream_response_time_list")
    out = out.withColumn(
        "nginx_ingress_controller_upstream_response_time",
        F.when(
            times.isNotNull(),
            F.aggregate(
                F.filter(times, lambda x: x != "-"),
                F.lit(0.0),
                lambda acc, x: acc + F.coalesce(x.try_cast("double"), F.lit(0.0)),
            ).cast("float"),
        ),
    )
    codes = F.col("upstream_response_status_code_list")
    out = out.withColumn(
        "nginx_ingress_controller_upstream_response_status_code",
        F.get(F.reverse(F.filter(codes, lambda x: x != "-")), 0)
        .try_cast("int"),
    )
    out = out.withColumn(
        "upstream_address", F.get(F.reverse(F.col("upstream_address_list")), 0)
    )
    out = P.grok(out, NGINX_INGRESS_UPSTREAM_ADDR_PATTERNS,
                 field="upstream_address", target_prefix="ua",
                 flag_failures=False,
                 pattern_definitions=NGINX_INGRESS_UPSTREAM_ADDR_DEFINITIONS)
    ua = F.col("ua")
    out = out.withColumn("nginx_ingress_controller_upstream_ip", ua[pre + "upstream_ip"])
    out = out.withColumn("nginx_ingress_controller_upstream_port",
                         ua[pre + "upstream_port"].try_cast("long"))
    out = out.withColumn("upstream_name", p[pre + "upstream_name"])
    out = out.withColumn("upstream_alternative_name",
                         p[pre + "upstream_alternative_name"])

    # source = first public ip in remote_ip_list, else its head, else the
    # bare source.address capture (pipeline.yml:185-229 painless)
    ip_list = F.col("remote_ip_list")
    addr = F.coalesce(
        F.get(F.filter(ip_list, lambda x: ~_is_private(x)), 0),
        F.get(ip_list, 0),
        p["source_address"],
    )
    out = out.withColumn("source_address", addr)
    out = out.withColumn("source_ip", _ip_or_domain(addr)[0])
    out = out.withColumn("destination_ip", p["destination_ip"])
    out = out.withColumn("destination_domain", p["destination_domain"])
    out = out.withColumn("user_name", p["user_name"])
    out = out.withColumn("user_agent_original", p["user_agent_original"])
    out = out.withColumn("http_request_referrer", p["http_request_referrer"])
    out = out.withColumn("http_response_status_code",
                         p["http_response_status_code"])
    out = out.withColumn("http_response_body_bytes",
                         p["http_response_body_bytes"])
    out = out.withColumn("http_request_id", p[pre + "http_request_id"])

    out = out.withColumn("timestamp", P.parse_timestamp(
        p[pre + "time"], ["02/Jan/2006:15:04:05 -0700"], timezone))
    status = p["http_response_status_code"]
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn("event_category", F.array(F.lit("web")))
    out = out.withColumn("event_type", F.array(F.lit("info")))
    out = out.withColumn("event_outcome", _http_outcome(status))
    out = out.withColumn(
        "related_ip",
        F.array_distinct(F.array_compact(F.array(
            F.col("source_ip"), F.col("destination_ip"),
            F.col("nginx_ingress_controller_upstream_ip"),
        ))),
    )
    out = out.withColumn(
        "related_user",
        F.when(F.col("user_name").isNotNull(),
               F.array(F.col("user_name"))),
    )
    return out.drop("ua")


# -- icinga.startup / icinga.debug (icinga/{startup,debug}/ingest/) ----------

ICINGA_STARTUP_PATTERNS = [
    r"%{WORD:log.level}/%{WORD:icinga.startup.facility}: "
    r"%{GREEDYMULTILINE:message}",
]

ICINGA_DEBUG_PATTERNS = [
    r"\[%{TIMESTAMP:icinga.debug.timestamp}\] %{WORD:log.level}/"
    r"%{WORD:icinga.debug.facility}: %{GREEDYMULTILINE:message}",
]


def icinga_startup(df: DataFrame) -> DataFrame:
    """icinga/startup/ingest/pipeline.yml: icinga.main minus the timestamp
    bracket (startup logs carry no time), warning/critical →
    event.type=error."""
    out = P.grok(df, ICINGA_STARTUP_PATTERNS, target_prefix="parsed",
                 pattern_definitions={"GREEDYMULTILINE": "(.|\n)*"})
    p = F.col("parsed")
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("message_out", p["message"])
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(p["log_level"].isin("warning", "critical"), "error")
        .otherwise("info"),
    )
    return out


def icinga_debug(df: DataFrame) -> DataFrame:
    """icinga/debug/ingest/pipeline.yml: identical shape to icinga.main
    under the icinga.debug.* prefix."""
    out = P.grok(df, ICINGA_DEBUG_PATTERNS, target_prefix="parsed",
                 pattern_definitions=ICINGA_MAIN_DEFINITIONS)
    p = F.col("parsed")
    out = P.timestamp(out, "parsed.icinga_debug_timestamp",
                      ["2006-01-02 15:04:05 -0700"], target="timestamp")
    out = out.withColumn("log_level", p["log_level"])
    out = out.withColumn("message_out", p["message"])
    out = out.withColumn("event_kind", F.lit("event"))
    out = out.withColumn(
        "event_type",
        F.when(p["log_level"].isin("warning", "critical"), "error")
        .otherwise("info"),
    )
    return out


# -- pensando.dfw (pensando/dfw/ingest/pipeline.yml) -------------------------

PENSANDO_DFW_PATTERNS = [
    r"%{SYSLOG5424PRI}%{NONNEGINT:syslog5424_ver} "
    r"+(?:%{TIMESTAMP_ISO8601:syslog5424_ts}|-) "
    r"+(?:%{IPORHOST:syslog5424_host}|-) "
    r"+(-|%{SYSLOG5424PRINTASCII:syslog5424_app}) "
    r"+(-|%{SYSLOG5424PRINTASCII:syslog5424_proc}) "
    r"+(?::-|%{SYSLOG5424PRINTASCII:syslog5424_msgid}) "
    r"+\[%{GREEDYDATA:payload_raw}\]$",
]

PENSANDO_DFW_DEFINITIONS = {
    "SYSLOG5424PRI": r"<%{NONNEGINT}>",
}

_PENSANDO_DFW_SCHEMA = (
    "time string, destaddr string, destport int, srcaddr string, "
    "srcport int, protocol string, action string, direction string, "
    "`rule-id` long, `session-id` long, `session-state` string, "
    "`app-id` string"
)


def pensando_dfw(df: DataFrame, timezone: str | None = None) -> DataFrame:
    """pensando/dfw: RFC-5424 header grok (verbatim), JSON payload decode,
    the port-comparison client/server classification (higher port = client;
    ICMP pins client=src, server port 0), allow/deny → event.action
    allowed/denied + event.type [connection, …]. server.port is a STRING
    (the reference sets it via a mustache template); source/destination
    ports are integers (convert processor). geoip scoped out.

    Reference: pensando/dfw/ingest/pipeline.yml; goldens
    pensando/dfw/test/test.log-expected.json."""
    out = P.grok(df, PENSANDO_DFW_PATTERNS, target_prefix="parsed",
                 pattern_definitions=PENSANDO_DFW_DEFINITIONS)
    p = F.col("parsed")
    out = out.withColumn("event_original", F.col("message"))
    out = out.withColumn(
        "j", F.from_json(p["payload_raw"], _PENSANDO_DFW_SCHEMA))
    j = F.col("j")
    out = out.withColumn("timestamp", F.try_to_timestamp(j["time"]))
    for src, dst in [
        ("action", "pensando_dfw_action"),
        ("app-id", "pensando_dfw_app_id"),
        ("destaddr", "pensando_dfw_destination_address"),
        ("destport", "pensando_dfw_destination_port"),
        ("direction", "pensando_dfw_direction"),
        ("protocol", "pensando_dfw_protocol"),
        ("rule-id", "pensando_dfw_rule_id"),
        ("session-id", "pensando_dfw_session_id"),
        ("session-state", "pensando_dfw_session_state"),
        ("srcaddr", "pensando_dfw_source_address"),
        ("srcport", "pensando_dfw_source_port"),
    ]:
        out = out.withColumn(dst, j[src])
    sp, dp = j["srcport"], j["destport"]
    sa, da = j["srcaddr"], j["destaddr"]
    icmp = j["protocol"] == "ICMP"
    out = out.withColumn("event_category", F.array(F.lit("network")))
    out = out.withColumn("observer_vendor", F.lit("Pensando Systems"))
    out = out.withColumn("observer_type", F.lit("firewall"))
    out = out.withColumn("observer_product",
                         F.lit("Distributed Services Platform"))
    out = out.withColumn("network_type", F.lit("ipv4"))
    out = out.withColumn("network_transport", F.lower(j["protocol"]))
    out = out.withColumn("source_address", sa)
    out = out.withColumn("source_port", sp)
    out = out.withColumn("destination_address", da)
    out = out.withColumn("destination_port", dp)
    out = out.withColumn(
        "client_ip",
        F.when(icmp, sa).when(sp > dp, sa).when(dp > sp, da))
    out = out.withColumn(
        "server_ip",
        F.when(icmp, da).when(sp < dp, sa).when(dp < sp, da))
    out = out.withColumn(
        "server_port",
        F.when(icmp, F.lit("0"))
        .when(sp < dp, sp.cast("string"))
        .when(dp < sp, dp.cast("string")))
    out = out.withColumn("event_kind", F.lit("event"))
    act = j["action"]
    out = out.withColumn(
        "event_action",
        F.when(act == "allow", "allowed").when(act == "deny", "denied"))
    out = out.withColumn("rule_id", j["rule-id"].cast("string"))
    out = out.withColumn(
        "event_outcome", F.when(act.isin("allow", "deny"), "success"))
    out = out.withColumn(
        "event_type",
        F.when(act == "allow", F.array(F.lit("connection"), F.lit("allowed")))
        .when(act == "deny", F.array(F.lit("connection"), F.lit("denied"))))
    out = out.withColumn("event_dataset", F.lit("pensando.dfw"))
    return out.drop("j")


# -- redis.slowlog (input/redis/harvester.go) --------------------------------


def redis_slowlog(df: DataFrame) -> DataFrame:
    """redis/slowlog: the reference's only *structured* fileset — its ingest
    pipeline is empty (redis/slowlog/ingest/pipeline.json has zero
    processors) and the whole event is built by the redis-protocol
    harvester (filebeat/input/redis/harvester.go:150-213) from SLOWLOG GET
    replies of shape (id, timestamp, duration, args[]). The Spark
    restatement therefore takes a DataFrame of already-fetched reply rows
    (columns id:long, ts_epoch:long, duration_us:long, args:array<string>,
    role:string — role comes from the same pipelined ROLE command,
    harvester.go:139-147) and applies the harvester's exact splitting:
    cmd=args[0], key=args[1], slowlog.args=args[2:] (absent when ≤2),
    message=join(args,' '), @timestamp=Unix(timestamp).UTC.

    Pure Column projection — map-only, codegen, no shuffle; a network
    poller in the reference becomes an embarrassingly parallel scan here."""
    a = F.col("args")
    n = F.size(a)
    out = df.select(
        F.col("id").alias("redis_slowlog_id"),
        F.col("duration_us").alias("redis_slowlog_duration_us"),
        F.col("role").alias("redis_slowlog_role"),
        # harvester.go:171-178: cmd/key only set when present
        F.when(n > 0, F.try_element_at(a, F.lit(1)))
        .alias("redis_slowlog_cmd"),
        F.when(n > 1, F.try_element_at(a, F.lit(2)))
        .alias("redis_slowlog_key"),
        # harvester.go:180-183: args only set when >2 elements
        F.when(n > 2, F.slice(a, 3, n - 2)).alias("redis_slowlog_args"),
        F.array_join(a, " ").alias("message"),
        F.timestamp_seconds(F.col("ts_epoch")).alias("timestamp"),
        F.lit("redis.slowlog").alias("event_dataset"),
    )
    return out
